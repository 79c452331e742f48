package graft.tools

import graft.SparkEntry
import graft.olap.Fixpoint
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query profiler (not part of the driver contract): each timed rep runs
  * every query as `count()` and as a `noop`-format write and counts each
  * action's Spark jobs. Catalyst can answer a `count()` (what `graft.Bench`
  * times) without running, e.g., a left join onto a key-unique aggregate, so
  * only the `noop` write is sure to pay for a kernel's whole output.
  *
  * Cross-day bench comparisons on a shared box are inadmissible — identical
  * code has shown 4–5× rep-to-rep swings between sessions (see BENCH_r09
  * rep_times). The admissible protocol is ALTERNATING runs of the two builds
  * back to back in one sitting, so any noise window hits both sides
  * symmetrically, comparing per-side minima across all alternated runs. A
  * single shared JVM cannot host both builds (Spark's local-mode executors
  * resolve task-closure classes from the application classpath, so two
  * versions of `graft.*` cannot coexist); instead one run is the per-build
  * unit the alternation loop invokes:
  * {{{
  * # copy this file into both trees, then:
  * for i in 1 2 3 4; do
  *   (cd treeA && sbt "runMain graft.tools.Profile /root/testdata/sf0.1 qs...")
  *   (cd treeB && sbt "runMain graft.tools.Profile /root/testdata/sf0.1 qs...")
  * done   # collect the PROFILE lines, compare min-over-runs per query
  * }}}
  * A run: one untimed warmup pass, `--reps` (default 3) interleaved timed
  * passes, then one stdout line `PROFILE {"sf","cpus","reps","cold","arms":
  * [{"conf","queries":{name:{"count_s","noop_s","count_reps","noop_reps",
  * "count_jobs","noop_jobs","rows"} | {"error"}}}]}`; `*_s` is the min over
  * reps, `*_jobs` the last rep's. Queries default to `SparkEntry.benchQueries`;
  * `SPARK_GRAFT_CPUS` (default 4) sets `local[n]`. `--cold` drops PlanCache,
  * Spark's CacheManager and the index gate memo before every action;
  * `--explain` prints each plan during warmup; `--conf k=v` sets a session
  * conf (e.g. `spark.graft.bench.roundLog=true`); `--conf k=a,b` alternates
  * it in-JVM, one arm per value. */
object Profile {
  private val Usage = "Profile <sfDir> [query ...] [--reps N] [--cold] [--explain] [--conf k=v|k=a,b]..."

  final case class Opts(sfDir: String, names: Vector[String] = Vector.empty, reps: Int = 3,
      cold: Boolean = false, explain: Boolean = false, conf: Vector[(String, String)] = Vector.empty)

  private val KeyValue = "([^=]+)=(.*)".r
  @annotation.tailrec
  def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--reps" :: n :: t => parse(t, o.copy(reps = n.toInt))
    case "--cold" :: t => parse(t, o.copy(cold = true))
    case "--explain" :: t => parse(t, o.copy(explain = true))
    case "--conf" :: KeyValue(k, v) :: t => parse(t, o.copy(conf = o.conf :+ (k -> v)))
    case f :: _ if f.startsWith("--") => throw new IllegalArgumentException(s"bad flag $f; usage: $Usage")
    case n :: t => parse(t, o.copy(names = o.names :+ n))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && !args(0).startsWith("--"), s"usage: $Usage")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println("PROFILE " + run(spark, parse(args.toList.tail, Opts(args(0)))))
    finally spark.stop()
  }

  /** One timed rep of one query: wall seconds and Spark jobs per action. */
  private final case class Rep(countS: Double, countJobs: Long, noopS: Double, noopJobs: Long, rows: Long)

  /** One profile run on `spark`; returns the JSON object of the PROFILE line. */
  def run(spark: SparkSession, o: Opts): String = {
    require(o.reps >= 1, "--reps must be at least 1")
    val names = if (o.names.nonEmpty) o.names else SparkEntry.benchQueries
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    // one arm per combination of the --conf values; a plain k=v is in every arm
    val arms = o.conf.foldLeft(Vector(Vector.empty[(String, String)])) { case (acc, (k, vs)) =>
      for (arm <- acc; v <- vs.split(',').toVector) yield arm :+ (k -> v)
    }
    def timed[T](n: String)(act: DataFrame => T): (Double, Long, T) = {
      if (o.cold) {
        graft.core.PlanCache.clear(spark)
        spark.catalog.clearCache()
        graft.index.Indexes.clearGateDecisions(spark)
      }
      val j0 = Fixpoint.jobsStarted(spark.sparkContext)
      val t0 = System.nanoTime()
      val r = act(SparkEntry.queries(n)(spark, o.sfDir))
      val t = (System.nanoTime() - t0) / 1e9
      (t, Fixpoint.jobsStarted(spark.sparkContext) - j0, r)
    }
    val reps = collection.mutable.Map[(Int, String), Vector[Rep]]()
    val errors = collection.mutable.Map[(Int, String), String]()
    // rep 0 is the untimed warmup; a query that throws is reported, not retried
    for (rep <- 0 to o.reps; (arm, i) <- arms.zipWithIndex; n <- names if !errors.contains((i, n))) {
      arm.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (cs, cj, rows) = timed(n)(_.count())
        val (ns, nj, _) = timed(n) { df =>
          if (rep == 0 && o.explain) { println(s"===== $n ${arm.mkString(" ")}"); df.explain("formatted") }
          df.write.format("noop").mode("overwrite").save()
        }
        if (rep > 0) reps((i, n)) = reps.getOrElse((i, n), Vector.empty) :+ Rep(cs, cj, ns, nj, rows)
      } catch {
        case e: Throwable =>
          errors((i, n)) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    def fmt(t: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    def obj(kvs: Iterable[(String, String)]) = kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def record(i: Int, n: String): String = errors.get((i, n)).fold {
      val rs = reps((i, n))
      def secs(f: Rep => Double) = rs.map(r => fmt(f(r))).mkString("[", ",", "]")
      obj(Seq("count_s" -> fmt(rs.map(_.countS).min), "noop_s" -> fmt(rs.map(_.noopS).min),
        "count_reps" -> secs(_.countS), "noop_reps" -> secs(_.noopS),
        "count_jobs" -> rs.last.countJobs.toString, "noop_jobs" -> rs.last.noopJobs.toString,
        "rows" -> rs.last.rows.toString))
    }(e => obj(Seq("error" -> q(e))))
    val armJson = arms.zipWithIndex.map { case (arm, i) =>
      obj(Seq("conf" -> obj(arm.map { case (k, v) => k -> q(v) }),
        "queries" -> obj(names.map(n => n -> record(i, n)))))
    }
    obj(Seq("sf" -> q(o.sfDir), "cpus" -> spark.sparkContext.defaultParallelism.toString, "reps" -> o.reps.toString,
      "cold" -> o.cold.toString, "arms" -> armJson.mkString("[", ",", "]")))
  }

  /** A JSON string; control characters (a multi-line error message) become spaces. */
  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("\\p{Cntrl}", " ") + "\""
}
