package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint locking the round-15/16 forced-broadcast sweep: every `broadcast(`
  * hint in engine source must carry an explicit boundedness proof here.
  *
  * A forced broadcast bypasses `spark.sql.autoBroadcastJoinThreshold`, so a
  * hint on a DATA-DEPENDENT-unbounded frame is a deferred 100×-scale OOM
  * (the class SCALE.md "Forced-broadcast audit" swept). This spec greps
  * `src/main/scala/graft` (excluding the probe harness `SparkEntry.scala`)
  * for `broadcast(` call sites and fails if any site is not matched by an
  * allowlist entry — i.e. a new hint cannot land without writing down WHY
  * its build side is bounded. Stale entries (matching nothing) also fail,
  * so the list cannot rot.
  *
  * Proof taxonomy (see SCALE.md):
  *  - one-row aggregate        — agg() with no grouping; exactly 1 row
  *  - caller-bounded           — driver-local Seq/Map or an explicit small
  *                               argument (query terms ≤ 8, pivot list,
  *                               eval set, vocab table, dimension frame)
  *  - param-bounded            — ≤ a structural parameter (nlist centroids,
  *                               PQ LUT = nlist·m, bloom words, emb dims)
  *  - category-cardinality     — one row per distinct group value
  *                               (degree histogram, per-type moments), not
  *                               per corpus row
  *  - count-gated              — hint applied only under an explicit row
  *                               count / conf cap, with an un-hinted branch
  */
class BroadcastLintSpec extends AnyFunSuite {

  private case class Allow(file: String, needle: String, proof: String)

  // file = path suffix under src/main/scala/graft; needle = substring of the
  // exact call-site line (post-trim). Keep needles distinctive enough to
  // pin ONE boundedness argument each.
  private val allowlist: Seq[Allow] = Seq(
    // ---- similarity / ANN: query sets and centroid tables ----
    Allow("pipeline/Similarity.scala", "d.crossJoin(broadcast(q))",
      "caller-bounded query set (scaladoc routes corpus-scale query sets to lshCosinePairs)"),
    Allow("pipeline/Similarity.scala", "data.crossJoin(broadcast(cents))",
      "param-bounded: k-means centroids <= nlist"),
    Allow("pipeline/Similarity.scala", "acc.join(broadcast(cents.select(col(\"cid\").as(s\"code$s\"),",
      "param-bounded: PQ sub-codebook <= nlist per subspace"),
    Allow("pipeline/Similarity.scala", ".crossJoin(broadcast(cents))",
      "param-bounded: PQ sub-codebook <= nlist per subspace"),
    Allow("pipeline/Similarity.scala", "acc.join(broadcast(lut), Seq(\"qid\", s\"code$s\"))",
      "param-bounded: query x codebook LUT = |Q| * nlist rows, |Q| caller-bounded"),
    Allow("pipeline/Similarity.scala", "q.crossJoin(broadcast(cents))",
      "param-bounded: coarse centroids <= nlist"),
    Allow("pipeline/Similarity.scala", ".crossJoin(broadcast(coarse.select(col(\"cid\").as(\"bucket\"), col(\"cvec\"))))",
      "param-bounded: coarse IVF centroids <= nlist"),
    Allow("pipeline/Similarity.scala", "val dirDf = broadcast(dirRows.toDF(\"j\", \"i\", \"s\"))",
      "caller-bounded: driver-local random-projection directions (dim x outDim)"),
    Allow("pipeline/Similarity.scala", "ex.join(broadcast(stats), Seq(\"dim\"))",
      "param-bounded: per-dimension whitening stats <= embedding dims"),
    // ---- text analysis: 1-row stats, term tables, model frames ----
    Allow("pipeline/TextAnalysis.scala", "sc.crossJoin(broadcast(total))",
      "one-row aggregate"),
    Allow("pipeline/TextAnalysis.scala", ".join(broadcast(dfs), Seq(\"token\"))",
      "caller-bounded: per-term doc frequencies, terms.size <= 8 (require())"),
    Allow("pipeline/TextAnalysis.scala", ".crossJoin(broadcast(stats))",
      "one-row aggregate (n_docs, avgdl)"),
    Allow("pipeline/TextAnalysis.scala", ".crossJoin(broadcast(nDocs))",
      "one-row aggregate"),
    Allow("pipeline/TextAnalysis.scala", ".crossJoin(broadcast(total))",
      "one-row aggregate"),
    Allow("pipeline/TextAnalysis.scala", "uni.crossJoin(broadcast(n))",
      "one-row aggregate (corpus token total)"),
    Allow("pipeline/TextAnalysis.scala", ".crossJoin(broadcast(floorS))",
      "one-row aggregate (unseen-score floor)"),
    Allow("pipeline/TextAnalysis.scala", "rawc.crossJoin(broadcast(tot)).select(col(\"b\"),",
      "one-row aggregate"),
    Allow("pipeline/TextAnalysis.scala", "feats.join(broadcast(model), Seq(\"b\"))",
      "param-bounded: DSIR bucket-lambda table <= buckets rows"),
    Allow("pipeline/TextAnalysis.scala", "perDoc.join(broadcast(lam), Seq(\"b\"))",
      "param-bounded: DSIR bucket-lambda table <= buckets rows"),
    Allow("pipeline/TextAnalysis.scala", ".join(broadcast(b), col(groupCol) <=> col(\"__bg\"))",
      "category-cardinality: per-group clip bounds, one row per distinct group"),
    Allow("pipeline/TextAnalysis.scala", ".crossJoin(broadcast(n))",
      "one-row aggregate"),
    Allow("pipeline/TextAnalysis.scala", "joint.join(ca, Seq(\"__a\")).join(cb, Seq(\"__b\")).crossJoin(broadcast(n))",
      "one-row aggregate"),
    Allow("pipeline/TextAnalysis.scala", "val vocab = broadcast(",
      "caller-bounded: driver-local weights Map"),
    Allow("pipeline/TextAnalysis.scala", ".join(broadcast(v), Seq(\"w\"), \"left\")",
      "caller-bounded: vocabulary dimension table (distinct token list)"),
    // ---- dedup: eval-set contamination only ----
    Allow("pipeline/Dedup.scala", ".join(broadcast(evalGrams), Seq(\"g\"))",
      "caller-bounded: evaluation-set n-grams (an eval set is small by definition)"),
    Allow("pipeline/Dedup.scala", ".join(broadcast(evalGrams), Seq(\"g\"), \"left\")",
      "caller-bounded: evaluation-set n-grams"),
    // ---- graph IO / schema ----
    Allow("data/GraphIO.scala", "val decl = broadcast(declared",
      "caller-bounded: driver-local declared edge-label schema"),
    Allow("data/GraphIO.scala", ".crossJoin(broadcast(maxId))",
      "one-row aggregate (max id)"),
    // ---- analytics kernels ----
    Allow("olap/Analytics.scala", "val nk = grid.crossJoin(broadcast(dh)).filter(col(\"d\") > col(\"k\"))",
      "category-cardinality: degree histogram, one row per distinct degree"),
    Allow("olap/Analytics.scala", "val ek = grid.crossJoin(broadcast(eh)).filter(col(\"m\") > col(\"k\"))",
      "category-cardinality: min-degree histogram, one row per distinct degree"),
    Allow("olap/Analytics.scala", "if (rows <= cap) broadcast(df) else df",
      "count-gated: the iterative kernels' one hint helper; every call passes an explicit row bound `rows` (an upper bound on the frame's rows proved at the call site) and the hint applies only when rows <= spark.graft.broadcast.maxRows, or <= a quarter of it for edge-shaped frames"),
    Allow("olap/Analytics.scala", "all.crossJoin(broadcast(sums.agg(max(col(\"s\")).as(\"__m\"))))",
      "one-row aggregate (max norm)"),
    Allow("olap/Analytics.scala", "broadcast(sources.toDF(\"source\"))",
      "caller-bounded: pivot/source vertex list"),
    Allow("olap/Analytics.scala", ".crossJoin(broadcast(mTot))",
      "one-row aggregate (total edge count)"),
    Allow("olap/Analytics.scala", "broadcast(spark.sparkContext.parallelize(mapping, slices).toDF(\"c\", \"l\"))",
      "count-gated: driver union-find branch taken only when undRows <= spark.graft.msf.driverMergeMaxRows"),
    // ---- index, sketches, stream, zorder ----
    Allow("index/Indexes.scala", "base.join(if (small) broadcast(ids) else ids, Seq(\"id\"), \"left_semi\")",
      "count-gated: gatedIdSemiJoin's one bounded job counts |ids| <= graft.index.broadcast.maxRows"),
    Allow("functions/Sketches.scala", ".join(broadcast(bitsTable), Seq(\"word\"), \"left\")",
      "param-bounded: bloom filter register table = words rows"),
    Allow("functions/ZOrder.scala", "df.crossJoin(broadcast(bounds))",
      "one-row aggregate (per-column min/max)"),
    Allow("stream/ChangeStream.scala", "changes.join(broadcast(dim), Seq(key), joinType)",
      "caller-bounded: static dimension table (documented enrichment contract)"),
    Allow("stream/ChangeStream.scala", "ev.join(broadcast(stats), col(\"etype\") <=> col(\"__sg\"))",
      "category-cardinality: per-event-type moments, one row per distinct etype")
  )

  private case class Site(file: String, lineNo: Int, line: String)

  private def broadcastSites(): Seq[Site] = {
    val rx = "(?<![.\\w])broadcast\\(".r // excludes sc.broadcast / qualified calls
    EngineSources.codeLines().collect {
      case (file, lineNo, raw) if rx.findFirstIn(raw).isDefined => Site(file, lineNo, raw.trim)
    }
  }

  test("every engine broadcast() hint has a boundedness proof on the allowlist") {
    val sites = broadcastSites()
    val unproved = sites.filterNot(s =>
      allowlist.exists(a => s.file.endsWith(a.file) && s.line.contains(a.needle)))
    assert(unproved.isEmpty,
      "broadcast() hints without a boundedness proof (add an Allow entry " +
        "with the proof, or drop the hint and let AQE decide):\n" +
        unproved.map(s => s"  ${s.file}:${s.lineNo}  ${s.line}").mkString("\n"))
  }

  test("no stale allowlist entries (every proof still matches a live site)") {
    val sites = broadcastSites()
    val stale = allowlist.filterNot(a =>
      sites.exists(s => s.file.endsWith(a.file) && s.line.contains(a.needle)))
    assert(stale.isEmpty,
      "allowlist entries matching no call site (the hint moved or was " +
        "removed — update or delete the entry):\n" +
        stale.map(a => s"  ${a.file} :: ${a.needle}").mkString("\n"))
  }

  test("the two round-15 unbounded Dedup hints stay dropped") {
    // Regression pin for VERDICT r15 "What's wrong" #1/#2: the heavy-bucket
    // and stop-shingle anti-joins must stay AQE-decided.
    val dedup = EngineSources.files().find(_.getName == "Dedup.scala").get
    val src = scala.io.Source.fromFile(dedup, "UTF-8")
    val text = try src.mkString finally src.close()
    assert(!text.contains("broadcast(heavy)"),
      "Dedup.scala re-introduced a forced broadcast of a heavy-bucket/stop-" +
        "shingle set — that frame is data-dependent-unbounded (SCALE.md audit)")
  }
}
