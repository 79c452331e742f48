package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.olap.Fixpoint
import graft.tools.Profile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.tools.Profile` times every query both as `count()` and as a `noop`
  * write because the two can run different work: Catalyst drops a left join
  * whose right side is unique on the join key from a plan that reads no
  * right-side column, which a `count()` is. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"

  private def jobs[T](f: => T): (T, Long) = {
    val j0 = Fixpoint.jobsStarted(spark.sparkContext)
    val r = f
    (r, Fixpoint.jobsStarted(spark.sparkContext) - j0)
  }

  test("count() skips a left join onto a key-unique aggregate; a noop write runs it") {
    val agg = spark.range(0, 5000).groupBy((col("id") % 100).as("id")).agg(sum("id").as("s"))
    def df = spark.range(0, 1000).join(agg, Seq("id"), "left")
    val (counted, countJobs) = jobs(df.count())
    val (_, noopJobs) = jobs(df.write.format("noop").mode("overwrite").save())
    assert(countJobs < noopJobs, s"count() ran $countJobs jobs, the noop write $noopJobs")
    assert(counted === df.collect().length)
    assert(counted === 1000L)
  }

  test("one Profile rep prints the documented keys; q_triangles_df's noop write runs more jobs") {
    val opts = Profile.parse(List("q1_agg", "q_triangles_df", "--reps", "1"), Profile.Opts(dir))
    val root = new ObjectMapper().readTree(Profile.run(spark, opts))
    assert(Seq("sf", "cpus", "reps", "cold", "arms").forall(root.has))
    assert(root.get("reps").asInt === 1 && !root.get("cold").asBoolean)
    assert(root.get("arms").size === 1 && root.get("arms").get(0).get("conf").size === 0)
    val qs = root.get("arms").get(0).get("queries")
    val keys = Seq("count_s", "noop_s", "count_reps", "noop_reps", "count_jobs", "noop_jobs", "rows")
    for (n <- Seq("q1_agg", "q_triangles_df")) {
      assert(keys.forall(qs.get(n).has), s"$n: ${qs.get(n)}")
      assert(qs.get(n).get("count_reps").size === 1)
      assert(qs.get(n).get("rows").asLong === SparkEntry.queries(n)(spark, dir).collect().length)
    }
    val tri = qs.get("q_triangles_df")
    assert(tri.get("noop_jobs").asLong > tri.get("count_jobs").asLong, tri.toString)
  }
}
