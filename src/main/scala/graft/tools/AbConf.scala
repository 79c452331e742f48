package graft.tools

import org.apache.spark.sql.SparkSession

/** Generic same-session conf A/B for one bench query (dev tool, not part of
  * the driver contract): alternates `AB_CONF` between `AB_A` and `AB_B` for
  * `AB_ROUNDS` rounds around `AB_QUERY` (warmup once per side first), prints
  * per-side reps, minima and the result row count (a cheap parity signal —
  * full parity stays with the oracle checks). Works for any
  * session-conf-switched code path. */
object AbConf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val key = sys.env("AB_CONF")
    val va = sys.env("AB_A")
    val vb = sys.env("AB_B")
    val q = sys.env.getOrElse("AB_QUERY", "q_coreness")
    val rounds = sys.env.getOrElse("AB_ROUNDS", "3").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def run(v: String): (Double, Long) = {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    run(va); run(vb) // warmup both plans
    val a = collection.mutable.ArrayBuffer[Double]()
    val b = collection.mutable.ArrayBuffer[Double]()
    var na = 0L; var nb = 0L
    for (_ <- 1 to rounds) {
      val (ta, ra) = run(va); a += ta; na = ra
      val (tb, rb) = run(vb); b += tb; nb = rb
    }
    def fmt(xs: Seq[Double]) = xs.map(t => f"$t%.2f").mkString(",")
    println(f"ABCONF $q $key=$va min=${a.min}%.2f reps=${fmt(a.toSeq)} rows=$na")
    println(f"ABCONF $q $key=$vb min=${b.min}%.2f reps=${fmt(b.toSeq)} rows=$nb")
    println(f"ABCONF ratio(B/A)=${b.min / a.min}%.3f rowParity=${na == nb}")
    spark.stop()
  }
}
