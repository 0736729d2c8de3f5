package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

/** The stdout contract of graft.Bench: the driver captures only the
  * LAST ~2000 chars of stdout, so the printed record must (a) fit that
  * window at the full 171-query set and (b) stay valid JSON — round
  * 10's driver record truncated mid-line (`"parsed": null`). The full
  * per-query map lives in the audit file, which renderJson covers. */
class BenchSummarySpec extends SparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def mkResults(n: Int): Seq[Bench.QRes] =
    (0 until n).map { i =>
      Bench.QRes(f"q_some_quite_long_query_name_$i%03d", 0.5 + i * 0.01,
        Seq(0.6 + i * 0.01, 0.5 + i * 0.01), ok = true, None,
        resampled = i % 7 == 0)
    }

  test("summary line fits the driver tail window and parses as JSON") {
    val res = mkResults(200) // worse than the real 171-query set
    val line = Bench.renderSummary(res, "/root/testdata/sf0.1", "32",
      1.2, 2.3, Seq("\"idle_wait_sec\":0.0", "\"aqe\":true"),
      "bench_results/latest_sf0.1.json")
    assert(line.length <= 1800,
      s"summary must fit a 2000-char tail capture, got ${line.length}")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("n_queries").asInt == 200)
    assert(node.get("failed").asInt == 0)
    assert(node.get("detail").asText.endsWith("latest_sf0.1.json"))
    // slowest-first entries are kept; omitted count closes the books
    val kept = node.get("queries").properties().size()
    assert(kept > 0 && kept + node.get("queries_omitted").asInt == 200)
    val names = {
      val it = node.get("queries").fieldNames()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(names.contains("q_some_quite_long_query_name_199"),
      "the slowest query must be in the summary")
  }

  test("committed-medians ref: sf-gated parse, ref_exceeded surfaces in both records") {
    // parse: the committed file matches only its own (sf, cpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_ref_")
    val f = dir.resolve("ref.json")
    java.nio.file.Files.write(f,
      """{"sf":"sf0.1","cpus":32,"queries":{"q_agg":0.40,"q_token_budget":1.34}}"""
        .getBytes("UTF-8"))
    val ref = f.toString
    val m = Bench.committedMedians("data/sf0.1", "32", ref)
    assert(m == Map("q_agg" -> 0.40, "q_token_budget" -> 1.34))
    assert(Bench.committedMedians("data/x30", "32", ref).isEmpty,
      "medians must not apply to a different scale's dataset")
    assert(Bench.committedMedians("data/sf0.1", "4", ref).isEmpty,
      "32-core medians must not judge a 4-core session")
    // a file keyed by sf alone judges no session
    val unkeyed = dir.resolve("unkeyed.json")
    java.nio.file.Files.write(unkeyed,
      """{"sf":"sf0.1","queries":{"q_agg":0.40}}""".getBytes("UTF-8"))
    assert(Bench.committedMedians("data/sf0.1", "4",
      unkeyed.toString).isEmpty)
    // the committed file carries the core count it was measured on
    val committed = java.nio.file.Paths.get(
      "bench_results/committed_medians.json")
    if (java.nio.file.Files.exists(committed)) {
      assert(Bench.committedMedians("data/sf0.1", "32",
        committed.toString).contains("q_agg"))
      assert(Bench.committedMedians("data/sf0.1", "4",
        committed.toString).isEmpty)
    }
    // rendering: a query past the ref bound is carried in ref_exceeded
    val res = mkResults(3) :+ Bench.QRes("q_slow", 9.9, Seq(9.9, 10.1),
      ok = true, None, resampled = true, refExceeded = true)
    val full = mapper.readTree(Bench.renderJson(res, "sf", "4", 0.5, 0.5))
    assert(full.get("ref_exceeded").size() == 1)
    assert(full.get("ref_exceeded").get(0).asText == "q_slow")
    val sum = mapper.readTree(Bench.renderSummary(res, "sf", "4", 0.5, 0.5))
    assert(sum.get("ref_exceeded_n").asInt == 1)
  }

  test("failures surface in the summary (errors map, failed count)") {
    val res = mkResults(3) :+ Bench.QRes("q_boom", -1.0, Nil, ok = false,
      Some("AnalysisException: boom"), resampled = false)
    val line = Bench.renderSummary(res, "sf", "4", 0.5, 0.5)
    val node = mapper.readTree(line)
    assert(node.get("failed").asInt == 1)
    assert(node.get("errors").get("q_boom").asText.contains("boom"))
    assert(!node.get("queries").has("q_boom"),
      "a crashed query must not appear with a bogus time")
  }

  test("measure times the full result: a failing unused-by-count column fails") {
    // count() would prune `bad` and report ok; the noop write computes it
    val boom = udf((x: Long) => {
      if (x >= 0) throw new IllegalStateException("udf boom"); x
    })
    val q = (s: SparkSession, _: String) =>
      s.range(3).withColumn("bad", boom(col("id")))
    val Seq(r) = Bench.measure(spark, sfDir, Seq("q_udf_throws" -> q))
    assert(!r.ok && r.samples.isEmpty)
    assert(r.err.exists(_.contains("Exception")), r.err)
    // a healthy query reports its time and the spill/peak-memory fields
    val ok = (s: SparkSession, _: String) =>
      s.range(1000).groupBy(col("id") % 7).count()
    val Seq(good) = Bench.measure(spark, sfDir, Seq("q_ok" -> ok))
    assert(good.ok && good.samples.size >= 2)
    assert(good.peakTaskMem > 0 && good.memSpilled >= 0 && good.diskSpilled >= 0)
    val spill = mapper.readTree(Bench.renderJson(Seq(good), "sf", "4", 0.5, 0.5))
      .get("spill").get("q_ok")
    assert(spill.get("peak_task_mem_bytes").asLong == good.peakTaskMem)
    assert(spill.has("mem_spilled_bytes") && spill.has("disk_spilled_bytes"))
  }
}
