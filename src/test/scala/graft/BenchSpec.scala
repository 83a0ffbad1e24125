package graft

import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `graft.Bench` reports a failing query as a failure: it is listed under
  * `failed`, gets no time and makes the run exit non-zero.
  */
class BenchSpec extends AnyFunSuite {

  test("a throwing query fails the bench run instead of dropping out of the total") {
    val dir = Files.createTempDirectory("graft_benchspec")
    val detail = dir.resolve("BENCH_DETAIL.json")
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(1000).toDF()),
      "throws_at_plan" -> ((_, _) => throw new IllegalStateException("broken query")),
      "throws_at_run" -> ((s, _) => s.range(10).select(raise_error(lit("broken query")))))
    val env = Map(
      "SPARK_GRAFT_SF_DIR" -> dir.toString, "SPARK_GRAFT_CPUS" -> "2",
      "SPARK_GRAFT_SCALING" -> "0", "SPARK_GRAFT_STAGE" -> "0",
      "SPARK_GRAFT_QUERY_PASSES" -> "2", "SPARK_GRAFT_ONLY" -> queries.keys.mkString(","),
      "SPARK_GRAFT_BENCH_DETAIL" -> detail.toString)
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(out)(Bench.run(env, queries))
    val line = out.toString.trim.linesIterator.toSeq.last
    assert(rc != 0, s"run succeeded: $line")
    val failed = """"failed":["throws_at_plan","throws_at_run"]"""
    assert(line.contains(failed), line)
    assert(line.contains("\"query_count\":1"), line)
    val written = new String(Files.readAllBytes(detail))
    assert(written.contains(failed), written)
    assert(written.contains("\"queries\":{\"ok\":"), written) // failed queries get no time
  }

  test("a failing stagedCopy is logged, and the run times the unstaged tables") {
    val dir = Files.createTempDirectory("graft_benchspec_stage")
    Files.write(dir.resolve("broken.parquet"), "not parquet".getBytes) // staging cannot read it
    val env = Map(
      "SPARK_GRAFT_SF_DIR" -> dir.toString, "SPARK_GRAFT_CPUS" -> "2",
      "SPARK_GRAFT_SCALING" -> "0", "SPARK_GRAFT_STAGE" -> "1",
      "SPARK_GRAFT_QUERY_PASSES" -> "1", "SPARK_GRAFT_ONLY" -> "sf_dir",
      "SPARK_GRAFT_BENCH_DETAIL" -> dir.resolve("BENCH_DETAIL.json").toString)
    var seen = ""
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "sf_dir" -> ((s, d) => { seen = d; s.range(10).toDF() }))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val rc = try Console.withOut(new java.io.ByteArrayOutputStream())(Bench.run(env, queries))
      finally System.setErr(stderr)
    assert(rc == 0)
    assert(err.toString.contains("[bench] stagedCopy failed, timing unstaged tables: "), err.toString)
    assert(seen == dir.toString)
  }
}
