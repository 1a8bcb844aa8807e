package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ann.IvfStore
import graft.multimodal.MediaSigStore
import graft.sources.{Snapshots, Tables}
import graft.streaming.{Replay, StreamScanner, StreamingLanes}
import graft.text.ChunkSigStore

/** One benchmark run in one JVM: set-up (repeated), then the measured
  * phase of one workload, then a JSON result file with every raw sample.
  * Metrics are derived from that file by `perfbench/run.py`.
  *
  * Arguments are `key=value` pairs: workload, data (fixture tables),
  * lanes (replay files), work (scratch), out (result file), cores,
  * trace (0|1), setup_reps, and per workload either queries + laps or the
  * lane sizes (ingest_per_trigger, scan_period_ms, curation_per_trigger). */
object PerfBench {
  private val t0 = System.nanoTime()
  private def now: Long = System.nanoTime() - t0
  private def ms(ns: Long): Double = ns / 1e6

  /** Span records (id, start, end) in ns since JVM start of the harness;
    * ids nest by prefix: setup/1, q/0/name/build, lanes/scan ... */
  private val spans = new ConcurrentLinkedQueue[String]()

  private def span[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id)
    val s = now
    try body
    finally {
      spans.add(Json.obj("id" -> id, "start_ns" -> s, "end_ns" -> now))
      sc.setLocalProperty("perfbench.span", outer)
    }
  }

  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The stores staged under java.io.tmpdir (`graft.sources.Staging`). */
  private def staged(): Seq[File] =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))

  /** Drops every staged store, so the next set-up stages from scratch. */
  private def clearStaging(): Unit = staged().foreach(FileUtils.deleteQuietly)

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val spark = Tables.session(s"local[$cores]", cores)
    val sessionNs = now
    val trace = if (a("trace") == "1") Some(new Trace(spark)) else None
    val fields = workload match {
      case "market_queries" | "corpus_queries" => queries(spark, a)
      case "lanes" => lanes(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val stamps = Seq(
      "workload" -> workload,
      "master" -> spark.sparkContext.master,
      "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionNs / 1e9,
      "spans" -> Json.Raw(spans.asScala.mkString("[", ",", "]")),
      "trace" -> trace.map(t => Json.Raw(t.dump())).orNull)
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json.obj(
      stamps ++ fields :+ ("peak_rss_kb" -> peakRssKb): _*))
  }

  /** Runs `setup` `reps` times, each from cleared staging; returns the
    * seconds of each repetition. */
  private def repeatSetup(spark: SparkSession, reps: Int)
                         (setup: => Unit): Seq[Double] =
    (1 to reps).map { r =>
      clearStaging()
      val s = now
      span(spark, s"setup/$r")(setup)
      (now - s) / 1e9
    }

  /** Measured phase wrapper: wall seconds, process CPU seconds, and the
    * stores the phase staged itself (set-up should have staged them). */
  private def measured(spark: SparkSession, id: String)
                      (body: => Seq[(String, Any)]): Seq[(String, Any)] = {
    val before = staged().map(_.getName).toSet
    val cpu0 = processCpuNs
    val s = now
    val f = span(spark, id)(body)
    Seq("measure_s" -> (now - s) / 1e9,
      "cpu_s" -> (processCpuNs - cpu0) / 1e9,
      "staged_in_measure" ->
        staged().map(_.getName).filterNot(before).sorted) ++ f
  }

  // --- market_queries / corpus_queries ------------------------------------

  /** Order-insensitive fingerprint of a query's output, computed by the
    * measured action itself (`Dataset.observe` rides the same job):
    * row count, XOR and wrapped-free sum of a 64-bit row hash. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case ArrayType(e, _) => hasMap(e)
      case _ => false
    }
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs, count(lit(1)).as("rows"),
      bit_xor(h).as("hx"), sum(shiftright(h, 24)).as("hs"))
  }

  private def queries(spark: SparkSession, a: Map[String, String])
  : Seq[(String, Any)] = {
    val data = a("data")
    val names = a("queries").split(",").toSeq
    val laps = a("laps").toInt
    val registry = graft.SparkEntry.queries
    names.foreach(n => require(registry.contains(n), s"unknown query $n"))
    // set-up: stage the stores the workload's queries read
    val setup = repeatSetup(spark, a("setup_reps").toInt) {
      a("workload") match {
        case "market_queries" => noop(Snapshots.store(spark, data))
        case "corpus_queries" =>
          IvfStore.subIndexPath(spark, data)
          ChunkSigStore.fixtureCorpusStore(spark, data)
          MediaSigStore.fixtureCorpusStore(spark, data)
      }
    }
    val ops = ArrayBuffer[String]()
    val m = measured(spark, "measure") {
      // every lap runs the listed order: a query's time depends on the
      // query before it, so a shuffled order would make the order drawn,
      // not the engine, move the figures
      for (lap <- 0 until laps; q <- names) {
        val id = s"q/$lap/$q"
        val s = now
        var built = s
        try {
          span(spark, id) {
            val df = span(spark, s"$id/build")(registry(q)(spark, data))
            built = now
            val obs = new Observation(s"check_$lap")
            span(spark, s"$id/exec")(noop(observed(df, obs)))
            val r = obs.get
            ops += Json.obj("lap" -> lap, "query" -> q, "ok" -> true,
              "build_ms" -> ms(built - s), "exec_ms" -> ms(now - built),
              "wall_ms" -> ms(now - s), "rows" -> r("rows"),
              "hx" -> r("hx"), "hs" -> r("hs"))
          }
        } catch {
          case NonFatal(e) =>
            ops += Json.obj("lap" -> lap, "query" -> q, "ok" -> false,
              "wall_ms" -> ms(now - s), "error" -> e.toString.take(500))
        }
      }
      Nil
    }
    Seq("setup_s" -> setup, "ops" -> Json.Raw(ops.mkString("[", ",", "]"))) ++
      m
  }

  // --- lanes ---------------------------------------------------------------

  private def files(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists()) Nil
    else FileUtils.listFiles(d, null, true).asScala.toSeq
      .filter(f => f.getName.endsWith(".parquet"))
  }

  private def lanes(spark: SparkSession, a: Map[String, String])
  : Seq[(String, Any)] = {
    import spark.implicits._
    val data = a("data")
    val in = a("lanes")
    val work = a("work")
    val sigStore = s"$work/cur_sig_store"
    val corpus = Tables(spark, data, "documents")
      .filter(col("doc_id") % 10 < 8)
    // set-up: the curation lane's SimHash store seeded with the corpus
    // split, written from scratch each time
    val setup = repeatSetup(spark, a("setup_reps").toInt) {
      FileUtils.deleteQuietly(new File(sigStore))
      graft.text.SimHashStore.appendBatch(sigStore, corpus)
    }
    val ingestSchema = spark.read.parquet(s"$in/ingest").schema
    val docSchema = spark.read.parquet(s"$in/curation").schema
    val ingestRows = a("ingest_rows").toLong
    val scanRows = a("scan_rows").toLong

    val m = measured(spark, "measure") {
      // (a) drain: the snapshot slices through the dual-lane ingest
      val ingest = span(spark, "lanes/ingest") {
        var tradingRows = 0L
        val store = s"$work/ingest_store"
        val s = now
        val q = StreamingLanes.bifurcated(
          Replay.paced(spark, s"$in/ingest", ingestSchema,
            a("ingest_per_trigger").toInt),
          store, (df, _) => tradingRows += df.count(),
          Trigger.AvailableNow())
          .queryName("ingest")
          .option("checkpointLocation", s"$work/ck_ingest").start()
        q.awaitTermination()
        val secs = (now - s) / 1e9
        Seq("ingest_s" -> secs, "staged_rows" -> ingestRows,
          "trading_rows" -> tradingRows,
          "stored_rows" -> spark.read.parquet(store).count(),
          "storage_files" -> files(store).size)
      }
      // (b) open loop: a generator thread releases scan slices on a fixed
      // schedule; the stream-stream scanner reads them as they land
      val scan =
        span(spark, "lanes/scan")(scanLane(spark, a, in, work, scanRows))
      // (c) drain: the incoming document split through the curation lane
      val curation = span(spark, "lanes/curation") {
        val ends = ArrayBuffer[(Long, Long)]()
        val s = now
        val q = StreamingLanes.curationStoreLane(
          Replay.paced(spark, s"$in/curation", docSchema,
            a("curation_per_trigger").toInt),
          sigStore, s"$work/cur_chunks") { (_, id) => ends += id -> now }
          .queryName("curation")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$work/ck_curation").start()
        q.awaitTermination()
        val secs = (now - s) / 1e9
        val batchMs = ends.map(_._2).scanLeft((s, 0L)) {
          case ((prev, _), e) => (e, e - prev) }.drop(1).map(x => ms(x._2))
        val admitted = graft.text.SimHashStore.read(spark, sigStore)
          .filter(col("doc_id") % 10 >= 8).select("doc_id").distinct()
          .as[Long].collect().sorted
        val stores = files(sigStore) ++ files(s"$work/cur_chunks")
        Seq("curation_s" -> secs, "curation_batch_ms" -> batchMs,
          "curation_docs" -> a("curation_docs").toLong,
          "admitted" -> admitted.toSeq,
          "store_files" -> stores.size,
          "store_bytes" -> stores.map(_.length).sum)
      }
      ingest ++ scan ++ curation
    }
    Seq("setup_s" -> setup) ++ m
  }

  private def scanLane(spark: SparkSession, a: Map[String, String],
                       in: String, work: String, scanRows: Long)
  : Seq[(String, Any)] = {
    val src = files(s"$in/scan").sortBy(_.getName)
    val live = new File(s"$work/scan_live")
    live.mkdirs()
    val schema = spark.read.parquet(s"$in/scan").schema
    val stream = spark.readStream.schema(schema).parquet(live.toString)
    val pairs = Snapshots.pairs(spark)
    def scanOf(df: DataFrame): DataFrame =
      StreamScanner.scan(StreamScanner.kalshiLeg(df),
        StreamScanner.polyLeg(df), pairs)
        .select(unix_micros(col("k_ts")).as("k_us"),
          unix_micros(col("p_ts")).as("p_us"), col("kalshi_ticker"),
          col("direction"), col("profit_margin"))
    type Opp = (Long, Long, String, String, Double)
    def opp(r: org.apache.spark.sql.Row): Opp =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4))
    // each streamed opportunity with the time it reached the sink
    val sunk = new ConcurrentLinkedQueue[(Opp, Long)]()
    val q = scanOf(stream).writeStream.outputMode("append")
      .queryName("scan")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        val t = now
        rows.foreach(r => sunk.add(opp(r) -> t))
      }
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", s"$work/ck_scan").start()
    val period = a("scan_period_ms").toLong * 1000000L
    def release(f: File): Unit = {
      f.setLastModified(System.currentTimeMillis())
      Files.move(f.toPath, new File(live, f.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
    // each of the two legs reads the file source; the progress counts both
    def consumed = q.recentProgress.map(_.numInputRows).sum / 2
    def dataBatches = q.recentProgress.count(_.numInputRows > 0)
    def await(done: => Boolean): Unit = {
      val deadline = now + 60000000000L
      while (!done && now < deadline && q.isActive) Thread.sleep(20)
    }
    // slice 0 warms the query up (its first micro-batch plans and compiles
    // the join) and is on no schedule; slice i > 0 is due (i - 1) periods
    // after the warm-up batch ended
    release(src.head)
    await(dataBatches > 0)
    val warmBatches = dataBatches
    val start = now
    val schedule = ArrayBuffer[(Int, Long, Long)]()
    val gen = new Thread(() => {
      src.zipWithIndex.drop(1).foreach { case (f, i) =>
        val due = start + (i - 1) * period
        val wait = due - now
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        release(f)
        schedule.synchronized(schedule += ((i, due, now)))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // drain: every released row must have entered a micro-batch
    await(consumed >= scanRows)
    q.processAllAvailable()
    q.stop()
    val drained = consumed
    val progress = q.recentProgress.toSeq
    val states = progress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    // the batch join over the same rows, for the output check
    val batch = scanOf(spark.read.parquet(live.toString)).collect().map(opp)
    val streamed = sunk.asScala.toSeq.map(_._1)
    Seq("scan_rows" -> scanRows, "scan_consumed_rows" -> drained,
      // rows (one leg) and trigger time of every scheduled micro-batch
      "scan_batches" -> progress.filter(_.numInputRows > 0).drop(warmBatches)
        .map(p => Seq(p.numInputRows / 2, p.durationMs.get("triggerExecution"))),
      "scan_schedule" -> schedule.toSeq.map { case (i, d, w) =>
        Seq(i, d, w) },
      "scan_sink" -> sunk.asScala.toSeq.map { case (o, t) =>
        Seq(math.max(o._1, o._2), t) },
      "scan_stream_opps" -> streamed.size,
      "scan_batch_opps" -> batch.length,
      "scan_match" -> (streamed.sorted == batch.toSeq.sorted),
      "scan_state_rows_max" ->
        (if (states.isEmpty) 0L else states.map(_.numRowsTotal).max),
      "scan_state_bytes_max" ->
        (if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max))
  }
}
