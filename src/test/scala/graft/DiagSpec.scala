package graft

import graft.tools.Diag
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.tools.Diag` mode, run inside the suite's session. */
class DiagSpec extends AnyFunSuite with SharedSpark {

  private val qs = Seq("q9_cosine_topk", "q39_ivf_topk")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def keys(line: String): Seq[String] =
    """"(\w+)":""".r.findAllMatchIn(line).map(_.group(1)).toSeq

  test("profile: a cold and a warm run per query, stages seen, cold plans written") {
    val out = tmp("graft_diag_plans")
    val runs = Diag.profile(spark, Sf0001, qs, Some(s"$out/%s.txt"))
    assert(runs.map(r => (r.query, r.run)) == qs.flatMap(q => Seq(q -> 1, q -> 2)))
    assert(runs.forall(_.wallSec > 0))
    assert(runs.exists(_.stages.nonEmpty), "the listener saw no stage")
    qs.foreach { q =>
      val plan = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/$q.txt")), "UTF-8")
      assert(plan.contains("== Physical Plan =="), s"$q plan dump:\n$plan")
    }
  }

  test("scans: q39's frame starts at a cut, so it reads `cut`, not `ok`") {
    val tags = Diag.scans(spark, Sf0001, qs).map { case (q, tag, _) => q -> tag }.toMap
    assert(tags.keySet == qs.toSet)
    assert(tags("q39_ivf_topk") == "cut")
    assert(Set("ok", "REPEAT", "cut")(tags("q9_cosine_topk")), tags)
  }

  test("plans: one formatted plan per named query") {
    val plans = Diag.plans(spark, Sf0001, qs)
    assert(plans.map(_._1) == qs)
    plans.foreach { case (q, p) => assert(p.contains("== Physical Plan =="), q) }
  }

  test("curves: one size, both variants; every line has the report's fields") {
    val out = tmp("graft_diag_curves")
    val (scaling, deletion) = Diag.curves(spark, Seq(2000L), out)
    val scalingKeys = Seq("variant", "n", "n_centroids", "family", "sec", "probe_frac",
      "fetch_frac", "build_ivf_sec", "build_ivfpq_sec", "build_label_meta_sec")
    assert(scaling.size == 8) // 2 variants × 4 families
    scaling.foreach(l => assert(keys(l) == scalingKeys, l))
    assert(scaling.count(_.contains("\"variant\":\"clustered\"")) == 4)
    // clustered only: four tombstone rows, then the compaction row
    val masked = Seq("n", "n_centroids", "tomb_pct", "ivf_masked_sec", "ivfpq_masked_sec")
    val compacted = Seq("n", "n_centroids", "tomb_pct", "ivf_compact_sec",
      "ivfpq_compact_sec", "ivf_post_compact_sec", "ivfpq_post_compact_sec")
    assert(deletion.map(keys) == Seq.fill(4)(masked) :+ compacted)
    assert(deletion.take(4).map(l => """"tomb_pct":(\d+)""".r.findFirstMatchIn(l).get
      .group(1).toInt) == Seq(0, 1, 10, 30))
    for ((file, lines) <- Seq("scaling_curve.json" -> scaling, "deletion_curve.json" -> deletion)) {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, file)), "UTF-8")
      assert(txt == lines.map("  " + _).mkString("[\n", ",\n", "\n]\n"), file)
    }
  }
}
