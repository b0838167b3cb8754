package perfbench

import org.apache.spark.sql.SparkSession
import graft.Materialize

/** Pass-isolation self-test on q33, the news trunk's full `transformed`
  * view. Built outside a `Materialize.fresh` scope, the news trunk is
  * `persist`ed and registered with the CacheManager, which then serves
  * every later build of the same plan from that cache.
  *
  *  1. Planted violation: build q33 outside a pass, as a plan probe
  *     would. The guard must report it. q33 is then timed twice without
  *     isolation: the first run fills the leaked cache, the second reads
  *     it (`leaked_hit_s`).
  *  2. q33 in later isolated passes of one session (`second_pass_s`).
  *  3. q33 on fresh sessions (`fresh_session_s`). The first q33 of any
  *     session also pays one-off session costs, so each fresh session
  *     first runs q33 over a copy of the inputs at another path (`alt`):
  *     same code paths, but a different plan, so nothing it leaves
  *     behind can serve the timed q33.
  *
  * Passes when the guard caught the plant and the median of (2) is
  * within 10% of the median of (3). Prints one JSON line. */
object Selftest {
  import Main._

  def run(a: Map[String, String]): Unit = {
    val (name, fn) = registry("q33")
    def timed(s: SparkSession, dir: String = a("tables")): Double = {
      val t0 = System.nanoTime()
      Materialize.fresh {
        fn(s, dir).write.mode("overwrite").parquet(s"${a("out")}/q33")
      }
      (System.nanoTime() - t0) / 1e9
    }
    var spark = warmSession(a)
    timed(spark) // compile and page-cache warm-up
    isolate(spark)
    fn(spark, a("tables")).queryExecution.analyzed // the planted probe
    val caught = leftovers(spark)
    timed(spark)
    val leaked = timed(spark)
    val second = (1 to 6).map { _ => isolate(spark); timed(spark) }.drop(1)
    val freshRuns = (1 to 5).map { _ =>
      spark.stop()
      spark = warmSession(a)
      timed(spark, a("alt"))
      isolate(spark)
      timed(spark)
    }
    spark.stop()
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val gap = math.abs(median(second) - median(freshRuns)) / median(freshRuns)
    val ok = caught.nonEmpty && gap <= 0.10
    def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    println(s"""{"selftest":"pass_isolation","query":${Json.str(name)},"planted_caught":${caught.nonEmpty},"guard_report":${Json.str(caught.mkString("; "))},"leaked_hit_s":${Json.num(leaked)},"second_pass_s":${arr(second)},"fresh_session_s":${arr(freshRuns)},"gap":${Json.num(gap)},"ok":$ok}""")
    if (!ok) sys.exit(1)
  }
}
