package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint pinning the engine's lineage cuts: every `localCheckpoint(` and
  * `.checkpoint(` call in engine source must match exactly one allowlist
  * entry, and each entry says in one line why the cut is there.
  *
  * A checkpoint is a materialization boundary. The iterative code shares
  * two of them: `Traversal.barrier()` (the Gremlin step, which every
  * repeat variant but plain `repeat(n)` applies per round) and the olap
  * `Analytics.roundBarrier` behind `Fixpoint`. A loop that hand-rolls its
  * own copy duplicates that policy, so a new call site cannot land without
  * a visible edit here. Like [[BroadcastLintSpec]] and [[ConfKeyLintSpec]]
  * this reads [[EngineSources]] (the probe harness `SparkEntry.scala` is
  * excluded), and stale entries (matching no call) fail, so the list
  * cannot rot.
  */
class CheckpointLintSpec extends AnyFunSuite {

  // file = path suffix under src/main/scala/graft; needle = substring of the
  // call line (post-trim). A call line that continues a chain (starts with
  // `.`) is read together with the code line before it, so a bare
  // `.localCheckpoint(false)` is pinned by the expression it ends.
  private case class Allow(file: String, needle: String, reason: String)

  private val allowlist: Seq[Allow] = Seq(
    Allow("traverse/Traversal.scala", "def barrier(): Traversal = copy(df = df.localCheckpoint(false))",
      "the Gremlin barrier() step, also each repeat round's cut: lazy, the first downstream action materializes it"),
    Allow("olap/Analytics.scala", "getCheckpointDir.isDefined) df.checkpoint(true)",
      "Fixpoint round barrier, reliable when the SparkContext has a checkpoint directory"),
    Allow("olap/Analytics.scala", "else df.localCheckpoint(false)",
      "Fixpoint round barrier without a checkpoint directory: lazy, the round's one action materializes it"),
    Allow("pipeline/Similarity.scala", ".withColumn(\"recall_x1e6\"",
      "annRecall: the per-query frame feeds the rows and the summary, so the brute-force pass runs once"),
    Allow("pipeline/TextAnalysis.scala", "regexp_replace(col(\"w\"), \"(.)\", \"$1 \")",
      "bpeTrain: the initial word table that every merge round reads"),
    Allow("pipeline/TextAnalysis.scala", "wf = wf.select(replace(col(\"s\")",
      "bpeTrain: one cut per merge round, so round r does not replay rounds 1..r-1"),
    Allow("stream/ChangeStream.scala", "vertices = merged.vertices.localCheckpoint(true)",
      "materializeGraph: each micro-batch's vertices do not chain every earlier batch's plan"),
    Allow("stream/ChangeStream.scala", "edges = merged.edges.localCheckpoint(true)",
      "materializeGraph: each micro-batch's edges do not chain every earlier batch's plan"),
    Allow("stream/ChangeStream.scala", "toDF(\"id\", \"component\")).localCheckpoint(true)",
      "incrementalComponents: the starting state, read before any batch overwrites state files"),
    Allow("stream/ChangeStream.scala", "labels = loadState(batchId - 1).localCheckpoint(true)",
      "incrementalComponents: a replayed batch restarts from the committed state of the batch before"),
    Allow("stream/ChangeStream.scala", ".distinct().localCheckpoint(false)",
      "incrementalComponents: the class-pair frame read by its count and by the merge"),
    Allow("stream/ChangeStream.scala", "labels = loadState(batchId).localCheckpoint(true)",
      "incrementalComponents: the state just committed, so the next batch starts from a plan-free frame")
  )

  private case class Site(file: String, lineNo: Int, window: String)

  private def checkpointSites(): Seq[Site] = {
    val rx = "localCheckpoint\\(|\\.checkpoint\\(".r
    EngineSources.codeLines().filter(_._3.trim.nonEmpty).groupBy(_._1).toSeq.flatMap {
      case (file, lines) =>
        val sorted = lines.sortBy(_._2)
        sorted.indices.collect { case i if rx.findFirstIn(sorted(i)._3).isDefined =>
          val line = sorted(i)._3.trim
          val prev = if (line.startsWith(".") && i > 0) sorted(i - 1)._3.trim + " " else ""
          Site(file, sorted(i)._2, prev + line)
        }
    }
  }

  private def matches(a: Allow, s: Site): Boolean =
    s.file.endsWith(a.file) && s.window.contains(a.needle)

  test("every engine checkpoint call has exactly one allowlist entry with a reason") {
    val sites = checkpointSites()
    val unlisted = sites.filter(s => allowlist.count(matches(_, s)) != 1)
    assert(unlisted.isEmpty,
      "checkpoint calls matched by no allowlist entry, or by several (add an " +
        "Allow entry with its reason, or reuse Traversal.barrier / " +
        "Analytics.roundBarrier):\n" +
        unlisted.map(s => s"  ${s.file}:${s.lineNo}  ${s.window}").mkString("\n"))
  }

  test("every allowlist entry matches exactly one live call") {
    val sites = checkpointSites()
    val bad = allowlist.filter(a => sites.count(matches(a, _)) != 1)
    assert(bad.isEmpty,
      "allowlist entries matching no call (the cut was removed — delete the " +
        "entry) or several (make the needle distinctive):\n" +
        bad.map(a => s"  ${a.file} :: ${a.needle}").mkString("\n"))
  }
}
