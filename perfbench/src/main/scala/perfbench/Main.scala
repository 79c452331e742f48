package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.PlanCache
import graft.data.{PropertyGraph, TpchGraph}
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes every raw measurement to a JSON
  * file; `run.py` turns that file into metrics.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --layout DIR --work DIR --expected FILE --out FILE
  * perfbench.Main --derive --data DIR --layout DIR --work DIR --out FILE
  * perfbench.Main --crosscheck --oracle DIR --out FILE
  * }}}
  *
  * The layout directory must be the one `GRAFT_LAYOUT_DIR` names, since the
  * engine's probes build their graph there.
  */
object Main {
  val Cores = 4
  val Setups = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    if (args.contains("--derive")) derive(arg("data"), arg("layout"), arg("out"))
    else if (args.contains("--crosscheck")) crosscheck(arg("oracle"), arg("out"))
    else run(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      arg("data"), arg("layout"), arg("work"), arg("expected"), arg("out"))
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L) else f.length

  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  /** (steal, total) CPU ticks of the whole machine, where Linux reports them:
    * time the hypervisor gave to other guests explains much run-to-run noise. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val t = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (t.length > 7) t(7) else 0L, t.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Session start plus building the graph layout into an empty directory
    * and loading it: what a user pays before the first query. */
  private def setUp(dataDir: String, layout: String): (SparkSession, PropertyGraph, Map[String, Double]) = {
    deleteTree(new File(layout))
    val t0 = System.nanoTime()
    val spark = session()
    val t1 = System.nanoTime()
    val g = TpchGraph.loadMaterialized(spark, dataDir)
    val t2 = System.nanoTime()
    (spark, g, Map("setup_s" -> secs(t0, t2), "session_s" -> secs(t0, t1), "load_s" -> secs(t1, t2)))
  }

  private def readExpected(path: String): Map[String, Expected] = {
    val tree = json.readTree(new File(path)).get("probes")
    val it = tree.fields()
    val out = Map.newBuilder[String, Expected]
    while (it.hasNext) {
      val e = it.next()
      val hash = Option(e.getValue.get("hash")).filterNot(_.isNull).map(h => BigDecimal(h.asText))
      out += e.getKey -> Expected(e.getValue.get("rows").asLong, hash)
    }
    out.result()
  }

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      dataDir: String, layout: String, work: String, expectedPath: String, out: String): Unit = {
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val marks = ArrayBuffer("main" -> System.nanoTime())
    val setups = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var graph: PropertyGraph = null
    (1 to Setups).foreach { _ =>
      if (spark != null) spark.stop()
      val (s, g, t) = setUp(dataDir, layout)
      spark = s; graph = g; setups += t
    }
    val layoutBytes = treeBytes(new File(layout))
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, dataDir, work, readExpected(expectedPath),
      new Random(seed), graph)
    marks += "setups" -> System.nanoTime()
    val wl = Workloads.build(workload, ctx)
    marks += "model" -> System.nanoTime()
    val sc = spark.sparkContext

    def storageBytes(): Long = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    val passes = ArrayBuffer.empty[Map[String, Any]]
    def runPass(index: Int, traced: Boolean): Unit = {
      tracer.enabled = traced
      tracer.pass = index
      val ops = ArrayBuffer.empty[Map[String, Any]]
      val (steal0, ticks0) = cpuTicks()
      val t0 = System.nanoTime()
      for (op <- wl.pass()) {
        tracer.op = op.name
        ctx.outputRows = 0L
        val o0 = System.nanoTime()
        val error = try tracer.span("bench", "op")(op.run())
        catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        val o1 = System.nanoTime()
        tracer.drain()
        error.foreach(m => System.err.println(s"[perfbench] pass $index ${op.name} FAILED: $m"))
        ops += Map("name" -> op.name, "module" -> op.module, "read" -> op.read,
          "wall_s" -> secs(o0, o1), "rows" -> ctx.outputRows, "error" -> error.orNull)
      }
      val t1 = System.nanoTime()
      val (steal1, ticks1) = cpuTicks()
      passes += Map("index" -> index, "traced" -> traced, "wall_s" -> secs(t0, t1),
        "steal_share" -> (if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0),
        "plancache_entries" -> PlanCache.entryCount(spark), "storage_bytes" -> storageBytes(),
        "ops" -> ops.toSeq)
    }

    // first pass in a fresh session: codegen, cache builds and first-call costs
    runPass(0, traced = false)
    // warm passes until the measuring time is spent; a traced run alternates
    // traced and untraced passes, at least one of each, so the tracing
    // overhead is measured in-run
    val start = System.nanoTime()
    var i = 1
    while (secs(start, System.nanoTime()) < seconds || (trace && i <= 2)) {
      runPass(i, traced = trace && i % 2 == 1)
      i += 1
    }
    tracer.enabled = false
    marks += "passes" -> System.nanoTime()
    val storage = storageBytes()
    // Spark's cleaner drops blocks of frames and broadcasts only after a GC
    // finds them unreachable; the least heap over a few collections is the
    // state the engine holds
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min

    val spans = if (!trace) Nil else tracer.allSpans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "op" -> s.op,
        "module" -> s.module, "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> tracer.countersOf(s.id).map(_.toMap).orNull)
    }
    val result = Map("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setups" -> setups.toSeq, "layout_bytes" -> layoutBytes, "passes" -> passes.toSeq,
      "storage_bytes" -> storage, "heap_live_bytes" -> heap,
      "spans" -> spans,
      "phases_s" -> marks.zip(marks.tail).map { case ((_, a), (n, b)) => n -> secs(a, b) }.toMap)
    tracer.close()
    spark.stop()
    Files.write(Paths.get(out), json.writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Record each probe's fingerprint from two passes in opposite orders; a
    * probe whose hash differs between them is recorded by rows only. Next to
    * each record go the probe's oracle SQL and output schema, so the record
    * can be cross-checked against the oracle's own result. */
  private def derive(dataDir: String, layout: String, out: String): Unit = {
    val (spark, _, _) = setUp(dataDir, layout)
    val probes = graft.SparkEntry.queries
    val names = Workloads.AllProbes.map(_._1)
    def pass(order: Seq[String]) = order.map(n => n -> Fingerprint.of(probes(n)(spark, dataDir))).toMap
    val a = pass(names)
    val b = pass(names.reverse)
    val oracle = graft.SparkEntry.oracleSql
    val recorded = names.map { n =>
      require(a(n).rows == b(n).rows, s"$n: row count differs between passes")
      n -> Map("rows" -> a(n).rows, "hash" -> (if (a(n) == b(n)) a(n).hash.toString else null),
        "oracle_sql" -> oracle.get(n).orNull,
        "schema" -> probes(n)(spark, dataDir).schema.json)
    }.toMap
    spark.stop()
    Files.write(Paths.get(out), json.writeValueAsString(Map("probes" -> recorded))
      .getBytes(StandardCharsets.UTF_8))
  }

  /** Fingerprint each oracle result (parquet written by DuckDB), cast by
    * column name to the engine probe's output schema. */
  private def crosscheck(oracleDir: String, out: String): Unit = {
    val spark = session()
    val specs = json.readTree(new File(s"$oracleDir/schemas.json")).fields()
    val results = Map.newBuilder[String, Map[String, Any]]
    while (specs.hasNext) {
      val e = specs.next()
      val want = org.apache.spark.sql.types.DataType.fromJson(e.getValue.asText)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val df = spark.read.parquet(s"$oracleDir/${e.getKey}.parquet")
      val v = Fingerprint.of(df.select(want.fields.toIndexedSeq
        .map(f => org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*))
      results += e.getKey -> Map("rows" -> v.rows, "hash" -> v.hash.toString)
    }
    spark.stop()
    Files.write(Paths.get(out), json.writeValueAsString(results.result())
      .getBytes(StandardCharsets.UTF_8))
  }
}
