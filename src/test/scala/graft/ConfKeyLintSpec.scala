package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint pinning the engine's own conf keys: every `"spark.graft.` or
  * `"graft.index.` string literal in engine source must name a key on the
  * allowlist below, and each entry says in one line why the key exists.
  *
  * Titan's BSP loop has no per-kernel tuning switches, and a conf-selectable
  * alternate tends to outlive the measurement that justified it. This spec
  * greps `src/main/scala/graft` (excluding the probe harness
  * `SparkEntry.scala`, as [[BroadcastLintSpec]] does) and fails on a key
  * that is not listed, so a new knob cannot land without a visible edit
  * here. Stale entries (matching no literal) also fail, so the list cannot
  * rot.
  */
class ConfKeyLintSpec extends AnyFunSuite {

  private case class Allow(key: String, reason: String)

  private val allowlist: Seq[Allow] = Seq(
    Allow("spark.graft.broadcast.maxRows",
      "memory bound: the largest frame the iterative kernels force-broadcast; edge-shaped frames get a quarter"),
    Allow("graft.index.broadcast.maxRows",
      "memory bound: the largest index id set an index lookup force-broadcasts"),
    Allow("spark.graft.msf.driverMergeMaxRows",
      "memory bound: the largest pair frame classMergeMapping unions on the driver"),
    Allow("spark.graft.exactPairs.maxRows",
      "safety cap: the quadratic exact-pair baselines refuse inputs past it"),
    Allow("spark.graft.bench.roundLog",
      "telemetry: the per-round [graft-rounds] stderr line of Fixpoint"),
    Allow("spark.graft.schema.default",
      "reference surface: Titan's schema.default graph config"),
    Allow("spark.graft.schema.checkEndpoints",
      "opt-in validation: declared edge-label endpoints on load (costs a scan)"),
    Allow("spark.graft.similarity.checkDims",
      "opt-in validation: uniform embedding dimensions (costs a scan)")
  )

  private case class Site(file: String, lineNo: Int, key: String)

  private def keySites(): Seq[Site] = {
    val rx = "\"((?:spark\\.graft\\.|graft\\.index\\.)[A-Za-z0-9_.]*[A-Za-z0-9_])".r
    EngineSources.codeLines().flatMap { case (file, lineNo, raw) =>
      rx.findAllMatchIn(raw).map(m => Site(file, lineNo, m.group(1)))
    }
  }

  test("every engine conf key literal is on the allowlist with a reason") {
    val listed = allowlist.map(_.key).toSet
    val unlisted = keySites().filterNot(s => listed(s.key))
    assert(unlisted.isEmpty,
      "conf keys read by the engine but not on the allowlist (add an Allow " +
        "entry with its reason, or drop the knob):\n" +
        unlisted.map(s => s"  ${s.file}:${s.lineNo}  ${s.key}").mkString("\n"))
  }

  test("no stale allowlist entries (every listed key is still read)") {
    val live = keySites().map(_.key).toSet
    val stale = allowlist.filterNot(a => live(a.key))
    assert(stale.isEmpty,
      "allowlist entries matching no literal (the key was removed — delete " +
        "the entry):\n" + stale.map(a => s"  ${a.key}").mkString("\n"))
  }
}
