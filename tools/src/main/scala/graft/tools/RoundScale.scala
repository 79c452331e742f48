package graft.tools

import graft.core.GraphSchema
import graft.data.PropertyGraph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diameter-growth scaling measurement (SCALE.md "diameter axis"): the 10×
  * replica test bounds VOLUME scaling only (disjoint copies leave per-
  * component round counts unchanged), so this tool drives the iterative
  * kernels on fixtures whose DIAMETER is the controlled variable —
  * an undirected path of n vertices (diameter n−1) for CC, and a directed
  * cycle of n vertices (one SCC, forward-reach distance n−1) for SCC — at
  * n = 10⁴/10⁵/10⁶. Run with spark.graft.bench.roundLog=true and count the
  * `[graft-rounds]` stderr lines: the pointer-jumped floods must grow
  * ~log(n) (a constant addend per 10×), never linearly.
  *
  * Not part of the driver contract — a measurement main like RefShapes. */
object RoundScale {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.graft.bench.roundLog", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sizes = sys.env.getOrElse("ROUNDSCALE_SIZES", "10000,100000,1000000")
      .split(",").map(_.trim.toLong)

    def pathGraph(n: Long): PropertyGraph = {
      val v = spark.range(n).select(col("id"), lit("v").as("label"))
      val e = spark.range(n - 1).select(col("id"), col("id").as("src"),
        (col("id") + 1L).as("dst"), lit("e").as("label"))
      PropertyGraph(GraphSchema(), v, e)
    }
    def cycleGraph(n: Long): PropertyGraph = {
      val p = pathGraph(n)
      val closing = spark.range(1).select(lit(n - 1).as("id"),
        lit(n - 1).as("src"), lit(0L).as("dst"), lit("e").as("label"))
      p.copy(edges = p.edges.unionByName(closing))
    }
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"ROUNDSCALE $tag wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // triangle chain P_n^2 — edges (i,i+1) and (i,i+2): n-2 triangles in a
    // line, diameter ~n/2. kTruss(4) peels it in a CONSTANT number of
    // rounds at any n (round 1 drops every support-1 edge, round 2 the
    // rest), so the diameter axis costs volume only.
    def trianglePath(n: Long): PropertyGraph = {
      val v = spark.range(n).select(col("id"), lit("v").as("label"))
      val e1 = spark.range(n - 1).select(col("id"), col("id").as("src"),
        (col("id") + 1L).as("dst"), lit("e").as("label"))
      val e2 = spark.range(n - 2).select((col("id") + 1000000000L).as("id"),
        col("id").as("src"), (col("id") + 2L).as("dst"), lit("e").as("label"))
      PropertyGraph(GraphSchema(), v, e1.unionByName(e2))
    }

    val kind = sys.env.getOrElse("ROUNDSCALE_KIND", "cc,scc").split(",").map(_.trim).toSet

    if (kind("cc")) sizes.foreach { n =>
      // CC on a path: one component; rounds must be ~log2(n)
      val comps = timed(s"cc_path_$n") {
        graft.olap.Analytics.connectedComponentsExact(pathGraph(n), iterations = 64)
          .select(col("component")).distinct().count()
      }
      println(s"ROUNDSCALE cc_path_$n components=$comps (expect 1)")
    }
    if (kind("scc")) sizes.foreach { n =>
      // SCC on a directed cycle: one SCC covering everything; the coloring
      // flood's pointer jumping is what keeps inner rounds ~log2(n)
      val sccs = timed(s"scc_cycle_$n") {
        graft.olap.Analytics.stronglyConnectedComponents(
          cycleGraph(n), maxOuter = 2, maxTrim = 2, maxInner = 64)
          .agg(count_distinct(col("scc")).as("k"),
            sum(col("scc").isNull.cast("long")).as("nulls")).head
      }
      println(s"ROUNDSCALE scc_cycle_$n distinct=${sccs.getLong(0)} " +
        s"unresolved=${sccs.getLong(1)} (expect 1, 0)")
    }
    if (kind("ktruss")) sizes.foreach { n =>
      // kTruss(4) on the triangle chain: peel-cascade depth (the structural
      // round driver for truss peeling) is CONSTANT here, so rounds must not
      // grow with n or diameter — wall scales with volume only
      val (left, conv) = timed(s"ktruss_chain_$n") {
        val (df, c) = graft.olap.Analytics.kTrussConverged(trianglePath(n), 4, maxRounds = 6)
        (df.count(), c)
      }
      println(s"ROUNDSCALE ktruss_chain_$n survivors=$left converged=$conv (expect 0, true)")
    }
    if (kind("skew")) sizes.foreach { n =>
      // Supernode-skew axis (SCALE.md "skew axis"; the reference's
      // partitioned-vertex regime, docs/partitioning.txt): n vertices, a
      // background chain, and ONE hub of degree n/10. Measures (a) the plain
      // single-reducer degree aggregate vs the salted two-phase one —
      // Spark's hash aggregate is already partial+final, so both must stay
      // flat and salting must cost only its extra shuffle; (b) the triangle
      // and k-truss kernels, whose degree-ordered orientation keeps the
      // hub's wedge pairs from materializing (the hub is the HIGHEST-rank
      // endpoint, so no wedge enumerates at it).
      val hubDeg = math.max(n / 10, 10L)
      val v = spark.range(n).select(col("id"), lit("v").as("label"))
      val chain = spark.range(n - 1).select(col("id"), col("id").as("src"),
        (col("id") + 1L).as("dst"), lit("e").as("label"))
      val hub = spark.range(1, hubDeg + 1).select((col("id") + 2000000000L).as("id"),
        lit(0L).as("src"), col("id").as("dst"), lit("e").as("label"))
      val g = PropertyGraph(GraphSchema(), v, chain.unionByName(hub))
      g.edges.count() // settle the input before timing
      val plainMax = timed(s"skew_degree_plain_$n") {
        g.edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .agg(max(col("d"))).head.getLong(0)
      }
      val saltedMax = timed(s"skew_degree_salted_$n") {
        graft.olap.GraphOps.saltedDegree(g, "out", salts = 64)
          .agg(max(col("degree"))).head.getLong(0)
      }
      println(s"ROUNDSCALE skew_degree_$n plainMax=$plainMax saltedMax=$saltedMax " +
        s"(expect ${hubDeg + 1}, ${hubDeg + 1})") // hub fans n/10 + its chain edge
      val tri = timed(s"skew_triangles_$n") {
        graft.olap.Analytics.triangleCountDF(g)
          .agg(sum(col("triangles"))).head.getLong(0)
      }
      println(s"ROUNDSCALE skew_triangles_$n corners=$tri (expect ${3 * (hubDeg - 1)})")
      val (left, conv) = timed(s"skew_ktruss_$n") {
        val (df, c) = graft.olap.Analytics.kTrussConverged(g, 3, maxRounds = 8)
        (df.count(), c)
      }
      println(s"ROUNDSCALE skew_ktruss_$n survivors=$left converged=$conv " +
        s"(expect ${2 * hubDeg - 1}, true)")
    }
    // Volume axis ×10/×100 over sf0.1 (SCALE.md "volume axis, heavy
    // kernels"): the bench tops out at ~600k rows while the design claims
    // are 100 TB-shaped, so drive the four heaviest iterative kernels on a
    // chain + pseudo-random + hub MIXTURE (deterministic multiplicative-
    // hash long-range edges — a diameter-compressing, mildly-skewed shape
    // closer to real graphs than either pure fixture) at 10⁶/10⁷ vertices
    // (~1.5n edges). Wall + `[graft-rounds]` round counts give the scaling
    // slope; any super-linear slope is a finding, not noise.
    def mixGraph(n: Long): PropertyGraph = {
      val v = spark.range(n).select(col("id"), lit("v").as("label"))
      val chain = spark.range(n - 1).select(col("id"), col("id").as("src"),
        (col("id") + 1L).as("dst"), lit("e").as("label"))
      val rand = spark.range(n / 2).select((col("id") + 3000000000L).as("id"),
        col("id").as("src"),
        pmod(col("id") * lit(2654435761L) + lit(12345L), lit(n)).as("dst"),
        lit("e").as("label"))
      val hubDeg = math.max(n / 100, 10L)
      val hub = spark.range(1, hubDeg + 1).select((col("id") + 6000000000L).as("id"),
        lit(0L).as("src"), pmod(col("id") * 37L + 11L, lit(n)).as("dst"),
        lit("e").as("label"))
      val e = chain.unionByName(rand).unionByName(hub).filter(col("src") =!= col("dst"))
      PropertyGraph(GraphSchema(), v, e)
    }

    if (kind("volume")) sizes.foreach { n =>
      val g = mixGraph(n)
      g.edges.count() // settle the input before timing
      // cheap kernels FIRST: a disk-envelope blowout in a heavy kernel must
      // not void the others' measurements (learned the hard way — the first
      // 10⁷ run died in SCC's shuffle spill before ktruss/btw ever ran)
      val (tleft, tconv) = timed(s"vol_ktruss_$n") {
        val (df, c) = graft.olap.Analytics.kTrussConverged(g, 3, maxRounds = 10)
        (df.count(), c)
      }
      println(s"ROUNDSCALE vol_ktruss_$n survivors=$tleft converged=$tconv")
      val btw = timed(s"vol_btw_sampled_$n") {
        graft.olap.Analytics.betweennessSampled(g,
          Seq(1L, n / 3, 2 * n / 3), maxIter = 8).count()
      }
      println(s"ROUNDSCALE vol_btw_sampled_$n rows=$btw (3 pivots, depth 8)")
      val (core, coreConv) = timed(s"vol_coreness_$n") {
        val (df, c) = graft.olap.Analytics.corenessConverged(g, maxRounds = 40)
        (df.agg(max(col("core"))).head.getLong(0), c)
      }
      println(s"ROUNDSCALE vol_coreness_$n maxCore=$core converged=$coreConv")
    }
    // SCC separated: its within-color edge restriction × pointer-jump inner
    // rounds is the heaviest shuffle producer of the four — at 1.5·10⁷
    // edges × 48 inner rounds the accumulated not-yet-cleaned shuffle files
    // exceeded this box's ~70 GB /tmp envelope. Root cause (found by the
    // round-17 heap-dump hunt, SCALE.md §"Round-17 retention defect"): the
    // pre-fix roundBarrier wrapped `queryExecution.toRdd`, whose
    // un-truncated wrapper RDDs cache pre-checkpoint partition arrays;
    // sort-merge-join partitions capture parent RDD references, chaining
    // every round's shuffles past lineage truncation. Fixed in
    // GraftSqlBridge.resetStats; spark.cleaner.periodicGC.interval paces
    // reclaim on top.
    if (kind("volscc")) sizes.foreach { n =>
      val g = mixGraph(n)
      g.edges.count()
      val scc = timed(s"vol_scc_$n") {
        graft.olap.Analytics.stronglyConnectedComponents(g,
          maxOuter = 2, maxTrim = 3, maxInner = 48)
          .agg(count_distinct(col("scc")).as("k"),
            sum(col("scc").isNull.cast("long")).as("nulls")).head
      }
      println(s"ROUNDSCALE vol_scc_$n distinct=${scc.getLong(0)} unresolved=${scc.getLong(1)}")
    }
    // Betweenness DEPTH axis (ADVICE r17): the σ/δ sweeps run with NO
    // per-level action — all maxD levels materialize inside the single
    // final job through the lazy-barrier chain. A directed path (deep BFS,
    // one-vertex frontiers) at increasing maxIter isolates the per-LEVEL
    // cost of that chain (plan growth / driver time) from data volume: wall
    // must grow ~linearly in depth with a small slope; a superlinear slope
    // or driver stall means the chain needs periodic materialization every
    // K levels.
    if (kind("btwdepth")) sizes.foreach { n =>
      Seq(8, 16, 32).foreach { d =>
        val rows = timed(s"btw_depth_${n}_d$d") {
          graft.olap.Analytics.betweennessSampled(pathGraph(n),
            Seq(0L, n / 2), maxIter = d).count()
        }
        println(s"ROUNDSCALE btw_depth_${n}_d$d rows=$rows (expect ~2*$d reached)")
      }
    }
    // CC + MSF on the volume mixture (the scaling spot-check's remaining
    // two of the top-5 kernels; same mixGraph as `volume`)
    if (kind("volcc")) sizes.foreach { n =>
      val g = mixGraph(n)
      g.edges.count()
      val cc = timed(s"vol_cc_$n") {
        graft.olap.Analytics.connectedComponentsExact(g, iterations = 24)
          .select(col("component")).distinct().count()
      }
      println(s"ROUNDSCALE vol_cc_$n components=$cc")
      val msf = timed(s"vol_msf_$n") {
        graft.olap.Analytics.minimumSpanningForest(g, weight = col("dst"),
          maxOuter = 12, maxInner = 12).count()
      }
      println(s"ROUNDSCALE vol_msf_$n edges=$msf")
    }
    // classMergeMapping driver-vs-distributed crossover (VERDICT r16 "What's
    // wrong #3"): the 5M-row driver union-find default was asserted, never
    // measured. Two pair-set shapes bracket the regimes: a single CHAIN
    // (depth-pathological — the distributed flood needs ~log2(n) pointer-
    // doubling rounds) and STAR-10 clusters (the realistic dedup-pairs
    // shape — flood converges in ~2 rounds). Time both paths at each size;
    // the default belongs at the measured crossover.
    if (kind("merge")) sizes.foreach { n =>
      val prior = spark.conf.getOption("spark.graft.msf.driverMergeMaxRows")
      def run(tag: String, pairs: org.apache.spark.sql.DataFrame): Unit = {
        // classMergeMapping's precondition: BOTH orientations present
        // (exactly what the MSF/streaming callers do before calling)
        val und = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
          .distinct().localCheckpoint(false)
        val rows = und.count() // settle input; ~2n after symmetrization
        spark.conf.set("spark.graft.msf.driverMergeMaxRows", (rows + 1).toString)
        val kd = timed(s"merge_driver_${tag}_$n") {
          graft.olap.Analytics.classMergeMapping(und, rows, maxInner = 64)
            .agg(count_distinct(col("l"))).head.getLong(0)
        }
        spark.conf.set("spark.graft.msf.driverMergeMaxRows", "0")
        val kx = timed(s"merge_dist_${tag}_$n") {
          graft.olap.Analytics.classMergeMapping(und, rows, maxInner = 64)
            .agg(count_distinct(col("l"))).head.getLong(0)
        }
        println(s"ROUNDSCALE merge_${tag}_$n classesDriver=$kd classesDist=$kx (must agree)")
      }
      run("chain", spark.range(n).select(col("id").as("a"), (col("id") + 1L).as("b")))
      run("star10", spark.range(n).select(col("id").as("a"),
        (col("id") - pmod(col("id"), lit(10L))).as("b")))
      prior match {
        case Some(p) => spark.conf.set("spark.graft.msf.driverMergeMaxRows", p)
        case None => spark.conf.unset("spark.graft.msf.driverMergeMaxRows")
      }
    }
    if (kind("btw")) sizes.foreach { n =>
      // betweenness is the one heavy whose round count is STRUCTURALLY
      // diameter-linear (forward BFS + sigma + delta sweeps are each
      // depth(maxD) keyed passes — no pointer-jumping shortcut exists for
      // per-level dependency flows). Measure the linear axis directly on
      // small paths (wall must grow ~10x per 10x diameter)...
      if (n <= 5000) {
        val full = timed(s"btw_path_full_$n") {
          graft.olap.Analytics.betweennessSampled(pathGraph(n), Seq(0L),
            maxIter = (n + 1).toInt).count()
        }
        // endpoints-excluded estimator: the source itself carries no row
        println(s"ROUNDSCALE btw_path_full_$n rows=$full (expect ${n - 1})")
      }
      // ...and the production mitigation: sampled pivots + bounded depth
      // (k-hop truncated Brandes) keeps wall FLAT in diameter — the answer
      // at 100 TB for pathological-diameter graphs
      val bounded = timed(s"btw_path_depth8_$n") {
        graft.olap.Analytics.betweennessSampled(pathGraph(n),
          Seq(0L, n / 2, n - 1), maxIter = 8).count()
      }
      println(s"ROUNDSCALE btw_path_depth8_$n rows=$bounded")
    }
    spark.stop()
  }
}
