package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CheckpointHygiene, Materialize, SessionTuning, SparkEntry}
import graft.news.{NewsTransform, Schemas, StubScorer}
import graft.queries.NewsPipeline
import graft.sources.Warehouse
import graft.streaming.NewsStream

/** The benchmark's harness process: one client, closed loop, one
  * workload.
  *
  * Modes:
  *  - `run`: set up the session several times (setup_s), then run passes
  *    over the workload's fixed operation list until `--seconds` have
  *    passed (at least [[MinPasses]]), then write the outputs the caller
  *    checks. Spans go to `spans.jsonl`, the run record to
  *    `result.json`, both in `--out`.
  *  - `selftest`: the pass-isolation self-test (see [[Selftest]]).
  */
object Main {

  /** The query workloads' operations, in pass order (registry
    * prefixes). */
  val QueryOps: Map[String, Seq[String]] = Map(
    "olap_marts_10x" -> Seq("q33", "q34", "q36", "q01", "q04"),
    "iterative_kernels" -> Seq("q365", "q483", "q98", "q89"))

  /** Passes 0 and 1 warm the JVM up (the cold pass pays JIT, codegen and
    * page cache; the JIT is still compiling through the next one). They
    * are recorded but not in the steady-state metrics. */
  val WarmupPasses = 2
  /** Warm-up plus, in a traced run, one untraced and one traced steady
    * pass. */
  val MinPasses = 4

  val LoadTs = "2026-01-01 00:00:00"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "run" => new Run(a).run()
      case "selftest" => Selftest.run(a)
    }
  }

  def cpus(a: Map[String, String]): Int = a("cpus").toInt

  def session(a: Map[String, String]): SparkSession = {
    val work = a("work")
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cpus(a)}]")
      .config("spark.sql.shuffle.partitions",
        SessionTuning.shufflePartitions(a("tables"), cpus(a)).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session plus warm-up: JIT, codegen and parquet metadata of the
    * tables the workload reads. */
  def warmSession(a: Map[String, String]): SparkSession = {
    val s = session(a)
    s.range(1000000L).selectExpr("sum(id)").collect()
    s.read.parquet(s"${a("tables")}/events.parquet").count()
    s
  }

  def registry(prefix: String): (String, (SparkSession, String) => DataFrame) =
    SparkEntry.queries.find(_._1.startsWith(prefix + "_")).getOrElse(
      throw new IllegalArgumentException(s"no registry query $prefix"))

  /** State a pass could read that it did not build: cached plans, and
    * persisted (checkpointed or cached) RDDs that hold blocks. A
    * persisted RDD that never materialized holds nothing to read; it is
    * counted by `materialize.persisted_rdds_end` instead. */
  def leftovers(s: SparkSession): Seq[String] = {
    val cm = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    (if (cm.isEmpty) Nil else Seq("CacheManager holds cached plans")) ++
      s.sparkContext.getRDDStorageInfo.toSeq.map(r =>
        s"persisted RDD ${r.id} holds ${r.numCachedPartitions} blocks")
  }

  /** Pass start: drop every cache and checkpoint, then require that
    * nothing is left. */
  def isolate(s: SparkSession): Unit = {
    s.catalog.clearCache()
    CheckpointHygiene.release(s)
    val left = leftovers(s)
    if (left.nonEmpty)
      throw new IllegalStateException(
        "pass isolation violated: " + left.mkString("; "))
  }

  /** The dashboard's read of the articles mart (q36's aggregation). */
  def dashboard(mart: DataFrame): DataFrame = {
    def score(subject: String) = {
      val s = StubScorer.score(col("ARTICLE_CONTENT_CLEAN"), subject)
      val d = when(s === "N/A", lit(null)).otherwise(s).cast("double")
      when(d === 0.0, lit(null)).otherwise(d)
    }
    mart.filter(col("NEWS_SOURCE_NAME") =!= "rebelnews")
      .select(col("BIAS"), score("data").as("mark"),
        score("query").as("poil"))
      .groupBy(col("BIAS"))
      .agg(round(round(sum(col("mark")), 2) / count(col("mark")), 6)
          .as("avg_mark"),
        round(round(sum(col("poil")), 2) / count(col("poil")), 6)
          .as("avg_poil"),
        count(lit(1)).as("n_articles"))
  }

  /** Seeded landing batches over `NewsPipeline.rawNews`: contiguous
    * ingest-time slices of jittered size, and from the second batch on
    * re-scrapes of earlier rows, both unchanged (same dedup key) and with
    * changed content (new dedup key, same article), stamped with the
    * re-scraping batch's ingest times. */
  def prepNews(s: SparkSession, a: Map[String, String]): Unit = {
    val seed = a("seed").toLong
    val nBatches = a("batches").toInt
    val out = a("news")
    val raw = NewsPipeline.rawNews(s, a("tables"))
      .select(Schemas.rawNews.fieldNames.map(col).toIndexedSeq: _*)
    val rows = raw.orderBy("id").collect().toIndexedSeq
    val rnd = new java.util.Random(seed)
    val weights = Seq.fill(nBatches)(0.9 + 0.2 * rnd.nextDouble())
    val bounds = weights.scanLeft(0.0)(_ + _).map(w =>
      (w / weights.sum * rows.size).round.toInt)
    val idx = Schemas.rawNews.fieldNames.zipWithIndex.toMap
    var nextId = 1000000000000L
    def restamp(r: Row, ts: java.sql.Timestamp, content: Option[String]) = {
      val v = r.toSeq.toArray
      nextId += 1
      v(idx("id")) = nextId
      v(idx("ingest_ts")) = ts
      content.foreach(c => v(idx("article_content")) = c)
      Row.fromSeq(v.toSeq)
    }
    for (k <- 0 until nBatches) {
      val slice = rows.slice(bounds(k), bounds(k + 1))
      val earlier = rows.take(bounds(k))
      def stamp() = slice(rnd.nextInt(slice.size))
        .getAs[java.sql.Timestamp]("ingest_ts")
      val again = if (earlier.isEmpty) Nil else
        Seq.fill(slice.size * 4 / 100)(
          restamp(earlier(rnd.nextInt(earlier.size)), stamp(), None))
      val withContent = earlier.filter(_.getAs[String]("article_content") != null)
      val changed = if (withContent.isEmpty) Nil else
        Seq.fill(slice.size * 2 / 100) {
          val r = withContent(rnd.nextInt(withContent.size))
          restamp(r, stamp(),
            Some(r.getAs[String]("article_content") + " updated " + k))
        }
      s.createDataFrame((slice ++ again ++ changed).asJava, Schemas.rawNews)
        .coalesce(1).write.mode("overwrite")
        .parquet(f"$out/batch-$k%03d")
    }
  }
}

/** One `run`-mode process. */
final class Run(a: Map[String, String]) {
  import Main._

  private val workload = a("workload")
  private val tables = a("tables")
  private val out = a("out")
  private val work = a("work")
  private val traceRun = a("trace") == "1"
  private val seconds = a("seconds").toDouble
  private val origin = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private val tracer = new Tracer(origin)
  private val failures = mutable.ArrayBuffer[(String, String)]()
  private var attempted = 0

  private def toRun(ms: Long): Double = (ms - epoch0) / 1e3

  private def fail(op: String, t: Throwable): Unit = {
    val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
      .linesIterator.nextOption().getOrElse("").take(300)
    failures += op -> msg
    System.err.println(s"PERFBENCH FAIL $op: $msg")
    t.printStackTrace()
  }

  def run(): Unit = {
    // setup_s samples: the first from JVM start, the rest as full
    // session restarts inside the same JVM
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val setups = mutable.ArrayBuffer[Double]()
    var spark = warmSession(a)
    setups += (System.currentTimeMillis() - jvmStart) / 1e3
    for (_ <- 1 until a("setups").toInt) {
      val t0 = System.nanoTime()
      spark.stop()
      spark = warmSession(a)
      setups += (System.nanoTime() - t0) / 1e9
    }
    // input generation, outside setup and passes: news landing batches
    // are cut from the generated tables once per seed. The peak-RSS mark
    // is reset after it (Linux: 5 > clear_refs), so peak_rss_mb measures
    // the workload alone.
    if (workload == "news_ingest" && !new File(a("news")).exists) {
      prepNews(spark, a)
      Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    }
    val listener = new ExecListener
    val runSpan = tracer.open("run", workload)
    val t0 = tracer.now
    var p = 0
    while (p < MinPasses || tracer.now - t0 < seconds) {
      // traced runs alternate untraced and traced passes, starting
      // untraced, so one process measures the tracing overhead
      val traced = traceRun && p % 2 == 1
      isolate(spark)
      if (traced) spark.sparkContext.addSparkListener(listener)
      tracer.traced = traced
      val pass = tracer.span("pass", s"pass-$p") { ps =>
        ps.attrs("traced") = if (traced) 1 else 0
        ps.attrs("warmup") = if (p < WarmupPasses) 1 else 0
        if (workload == "news_ingest") newsPass(spark)
        else queryPass(spark, ps)
        ps
      }
      tracer.traced = false
      pass.attrs("persisted_rdds_end") =
        spark.sparkContext.getPersistentRDDs.size
      pass.attrs("block_mb_end") = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      pass.attrs("released_rdds") = CheckpointHygiene.release(spark)
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        tracer.addJobs(listener.take(), toRun)
      }
      p += 1
    }
    tracer.close(runSpan)
    // output capture for the check, outside every timed pass
    if (workload == "news_ingest") newsCheckOutputs(spark)
    else writeOracles()
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    val record = Seq(
      "workload" -> Json.str(workload),
      "setups_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failures" -> failures.map { case (o, m) =>
        s"[${Json.str(o)},${Json.str(m)}]" }.mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(rss),
      "cpus" -> cpus(a).toString,
      "master" -> Json.str(spark.sparkContext.master),
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
    ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    spark.stop()
    Files.writeString(Paths.get(s"$out/spans.jsonl"),
      tracer.spans.map(_.toJson).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(s"$out/result.json"), record + "\n")
  }

  /** One pass over the query list inside one `Materialize.fresh` scope:
    * every trunk is built once in the pass and charged to it. */
  private def queryPass(spark: SparkSession, ps: Span): Unit = {
    var memoOps = 0
    Materialize.fresh {
      for (prefix <- QueryOps(workload)) {
        val (name, fn) = registry(prefix)
        attempted += 1
        val op0 = tracer.now
        tracer.span("op", name) { op =>
          try {
            Materialize.resetMemoTouched()
            val df = tracer.phase("queries.build")(fn(spark, tables))
            if (Materialize.memoTouched) memoOps += 1
            if (tracer.traced) {
              val qe = df.queryExecution
              tracer.phase("plans.analyze")(qe.analyzed)
              tracer.phase("plans.optimize")(qe.optimizedPlan)
              tracer.phase("plans.physical")(qe.executedPlan)
            }
            tracer.phase("exec.run")(
              df.write.mode("overwrite").parquet(s"$out/q/$name"))
          } catch { case t: Throwable =>
            op.attrs("failed") = 1
            fail(name, t)
          }
        }
        System.err.println(f"PERFBENCH op $name ${tracer.now - op0}%.3f s")
      }
    }
    ps.attrs("memo_ops") = memoOps
  }

  private def dirStats(d: File): (Long, Int) =
    if (!d.exists) (0L, 0)
    else if (d.isFile) (d.length, if (d.getName.endsWith(".parquet")) 1 else 0)
    else d.listFiles.map(dirStats).foldLeft((0L, 0)) { (x, y) =>
      (x._1 + y._1, x._2 + y._2) }

  private def rm(d: File): Unit = {
    if (d.isDirectory) d.listFiles.foreach(rm)
    d.delete()
  }

  private def startAndWait(w: org.apache.spark.sql.streaming.DataStreamWriter[Row],
      sp: Option[Span]): Unit = {
    val q = w.start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    sp.foreach { s =>
      val prog = q.recentProgress
      def dur(k: String) = prog.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
      s.attrs("rows_in") = prog.map(_.numInputRows).sum.toDouble
      s.attrs("add_batch_s") = dur("addBatch")
      s.attrs("trigger_s") = dur("triggerExecution")
      s.attrs("state_rows") = prog.lastOption.flatMap(_.stateOperators
        .headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0)
      s.attrs("rows_kept") = prog.flatMap(_.stateOperators.headOption)
        .map(_.numRowsUpdated.toDouble).sum
    }
  }

  private def passDir = new File(s"$work/news")

  /** One pass of `news_ingest`: every landing batch in order, from an
    * empty landing directory, warehouse and streaming checkpoints. */
  private def newsPass(spark: SparkSession): Unit = {
    rm(passDir)
    val landing = new File(passDir, "landing")
    landing.mkdirs()
    val wh = new File(passDir, "warehouse").getPath
    val batches = new File(a("news")).listFiles.filter(_.isDirectory)
      .map(_.getName).sorted
    def source = NewsStream.dedupedIngest(
      NewsStream.landingSource(spark, landing.getPath, Schemas.rawNews))
    for (b <- batches) {
      attempted += 1
      tracer.span("op", b) { op =>
        try {
          val src = new File(a("news"), b).listFiles
            .find(_.getName.endsWith(".parquet")).get
          tracer.span("phase", "sources.land") { sp =>
            val tmp = new File(passDir, s".$b.parquet")
            Files.copy(src.toPath, tmp.toPath)
            Files.move(tmp.toPath, new File(landing, s"$b.parquet").toPath,
              StandardCopyOption.ATOMIC_MOVE)
            sp.attrs("bytes") = src.length.toDouble
          }
          val traced = tracer.traced
          val before = if (traced) dirStats(new File(wh, "raw_news_stream"))._1 else 0L
          tracer.span("phase", "streaming.raw") { sp =>
            startAndWait(NewsStream.toWarehouse(source, wh,
              s"${passDir.getPath}/ckpt-raw"), Some(sp).filter(_ => traced))
          }
          tracer.span("phase", "streaming.mart") { sp =>
            startAndWait(NewsStream.incrementalArticlesMart(source, wh,
              s"${passDir.getPath}/ckpt-mart", LoadTs),
              Some(sp).filter(_ => traced))
          }
          if (traced) {
            val raw = dirStats(new File(wh, "raw_news_stream"))
            val mart = dirStats(new File(wh, "articles_mart"))
            op.attrs("warehouse_bytes_written") =
              (raw._1 - before + mart._1).toDouble
            op.attrs("files_live") =
              (raw._2 + mart._2 + dirStats(landing)._2).toDouble
          }
          tracer.span("phase", "sources.read") { _ =>
            dashboard(Warehouse.read(spark, wh, "articles_mart")).collect()
          }
        } catch { case t: Throwable =>
          op.attrs("failed") = 1
          fail(b, t)
        }
      }
    }
  }

  /** The final mart of the last pass, and a one-shot batch rebuild of the
    * mart over every row the ingest wrote to the warehouse. */
  private def newsCheckOutputs(spark: SparkSession): Unit = {
    val wh = new File(passDir, "warehouse").getPath
    try {
      Warehouse.read(spark, wh, "articles_mart").write.mode("overwrite")
        .parquet(s"$out/news/incremental")
      val raw = Warehouse.read(spark, wh, "raw_news_stream")
        .drop("article_key")
      NewsTransform.articlesMart(NewsTransform.transformed(raw, LoadTs))
        .write.mode("overwrite").parquet(s"$out/news/rebuild")
    } catch { case t: Throwable => fail("news_check", t) }
  }

  private def writeOracles(): Unit = {
    val sql = QueryOps(workload).map(registry).map(_._1)
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      sql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}"))
  }
}
