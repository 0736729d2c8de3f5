package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards graft's settable surface: every `"spark.graft.*"` conf key and
  * `"SPARK_GRAFT_*"` env var literal in `src/main/scala` must be on the
  * allowlist below, and every allowlisted name must still be read. A new
  * switch therefore needs a deliberate allowlist edit stating why it
  * exists — an A/B hatch states the result that retires it. */
class ConfSurfaceSpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    // graft-owned session confs, each read once by the module that owns it
    "spark.graft.reliableCheckpoints" ->
      "Checkpoints: reliable vs executor-local lineage truncation",
    "spark.graft.simjoin.eagerRows" ->
      "Dedup: similarityJoinExact's eager working-set threshold override",
    "spark.graft.bpe.truncateEvery" ->
      "Bpe: merge rounds between lineage truncations",
    // deployment and bench settings of the mains
    "SPARK_GRAFT_CPUS" -> "local[N] core count of every main",
    "SPARK_GRAFT_SF_DIR" -> "dataset directory of Bench, ScaleBench, Cli",
    "SPARK_GRAFT_BENCH_MAX_WAIT_SEC" -> "Bench's idle-host wait bound",
    "SPARK_GRAFT_BENCH_OUT" -> "Bench's full-record output path",
    "SPARK_GRAFT_BENCH_REF" -> "Bench's committed-medians file path",
    "SPARK_GRAFT_SCALE_FACTOR" -> "ScaleBench's replication factor",
    "SPARK_GRAFT_SCALE_DIR" -> "ScaleBench's replica directory",
    "SPARK_GRAFT_SCALE_OUT" -> "ScaleBench's record output path",
    "SPARK_GRAFT_STREAM_SINK" ->
      "streaming queries' sink: memory (default) or file (production shape)")

  private val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+)".r

  test("spark.graft.* keys and SPARK_GRAFT_* env vars match the allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found: Map[String, Seq[String]] = files.flatMap { f =>
      val txt = new String(Files.readAllBytes(f), "UTF-8")
      literal.findAllMatchIn(txt).map(m => m.group(1) -> root.relativize(f).toString)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct.sorted }
    val unlisted = found.keySet -- allowed.keySet
    assert(unlisted.isEmpty, "settable names missing from the allowlist " +
      s"(add each with its reason, or delete the switch): " +
      unlisted.toSeq.sorted.map(k => s"$k in ${found(k).mkString(", ")}").mkString("; "))
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty, s"allowlisted names no longer read anywhere: ${stale.toSeq.sorted}")
  }
}
