package graft

import graft.streaming.{StreamRunner, StreamingAnomaly, StreamingCorpus}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("state partitions derive from source key cardinality " +
      "(conf > derived > 8)") {
    // sf0.001 carries 75 (user, event_type) keys → ceil(75/12000) = 1,
    // floored to 8 (the pre-round-15 hardcoded default's value);
    // ensureStaged pins the count derived for the dir
    StreamingAnomaly.ensureStaged(spark, dir)
    assert(StreamRunner.statePartitions(spark) == 8)
    // the explicit session conf (the cluster deployment setting) wins
    // over the derivation
    spark.conf.set("spark.graft.stream.statePartitions", "16")
    try assert(StreamRunner.statePartitions(spark) == 16)
    finally spark.conf.unset("spark.graft.stream.statePartitions")
  }

  test("streaming entries restore the session's shuffle partitions " +
      "after success and after a failed query") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // a value no state sizing produces, so a leaked pin shows
    spark.conf.set(key, "3")
    try {
      assert(StreamingAnomaly.st02StatefulFlags(spark, dir).count() > 0)
      assert(spark.conf.get(key) == "3", "after st02StatefulFlags")
      assert(StreamingCorpus.st07StreamCorpus(spark, dir).count() > 0)
      assert(spark.conf.get(key) == "3", "after st07StreamCorpus")
      // a stream missing the value column fails to plan
      val noValue = slicedStream().drop("value")
      intercept[org.apache.spark.sql.AnalysisException] {
        StreamingAnomaly.st02FromStream(spark, noValue)
      }
      assert(spark.conf.get(key) == "3", "after a query that failed to plan")
      // a file sink whose checkpoint location is a regular file fails
      // inside the runner, after the state-partition pin
      val cpFile = java.nio.file.Files.createTempFile("st02_cp", ".file")
      val out = java.nio.file.Files.createTempDirectory("st02_fail_out")
      intercept[Exception] {
        StreamRunner.toFileSink(spark,
          StreamingAnomaly.st02Transform(spark, slicedStream()),
          out.toString, cpFile.toString)
      }
      assert(spark.conf.get(key) == "3", "after a query that failed to start")
    } finally spark.conf.set(key, prev)
  }

  test("only StreamRunner starts sinks and drives queries") {
    import scala.jdk.CollectionConverters._
    // per-detector drivers must not creep back into graft.streaming:
    // the memory sink, the checkpointed sink and the synchronous drive
    // each appear once, inside the runner, and the keyed-state prelude
    // once, in StreamingAnomaly.keyed; likewise the segment fold's
    // rules: the per-batch event order (StreamingAnomaly.inOrder), the
    // 1e-4 scale, the base-1e18 limb and the window start (FixedPoint)
    val files = new java.io.File("src/main/scala/graft/streaming")
      .listFiles().filter(_.getName.endsWith(".scala")) :+
      new java.io.File("src/main/scala/graft/FixedPoint.scala")
    val once = Seq(
      "format(\"memory\")" -> "StreamRunner.scala",
      ".option(\"checkpointLocation\"" -> "StreamRunner.scala",
      "processAllAvailable()" -> "StreamRunner.scala",
      ".flatMapGroupsWithState(" -> "StreamingAnomaly.scala",
      "(usOf(e.ts), e.event_id)" -> "StreamingAnomaly.scala",
      "* 10000.0 + 0.5" -> "FixedPoint.scala",
      "BigInt(1000000000000000000L)" -> "FixedPoint.scala",
      "/ widthUs) * widthUs" -> "FixedPoint.scala")
    for ((pat, home) <- once) {
      val hits = files.toSeq.map { f =>
        f.getName -> java.nio.file.Files.readAllLines(f.toPath).asScala
          .count(_.contains(pat))
      }.filter(_._2 > 0)
      assert(hits == Seq(home -> 1), s"$pat: $hits")
    }
  }

  test("no more stream state classes carry a collection field") {
    import scala.jdk.CollectionConverters._
    // Spark decodes an Array/Seq/List state field through MapObjects,
    // whose lambda variable is renamed on every micro-batch's re-plan,
    // so that state's decoder recompiles on every batch; a binary field
    // (TickerState.diffs, FixedPoint.longAt) compiles once. Lower the
    // bound as the remaining classes move to binary fields (an
    // Array[Byte] field is Spark's BinaryType, not a collection).
    val src = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/StreamingAnomaly.scala")).asScala
      .mkString("\n")
    val states = """case class (\w+State)\(([^)]*)\)""".r
      .findAllMatchIn(src).map(m => m.group(1) -> m.group(2)).toSeq
    assert(states.exists(_._1 == "TickerState"), states.map(_._1))
    val withCollections = states.collect {
      case (name, fields) if Seq("Array[", "Seq[", "List[")
        .exists(fields.replace("Array[Byte]", "").contains) => name
    }
    assert(withCollections.size <= 8, withCollections.mkString(", "))
  }

  private type Ev = (Long, java.sql.Timestamp, Long, String, Double)

  /** The messages of `e` and its causes, one a line. */
  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")

  /** `rows` (event_id, ts, user_id, event_type, value) as one
    * micro-batch of an in-memory stream.
    */
  private def memEvents(rows: Seq[Ev]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[Ev](implicitly[org.apache.spark.sql.Encoder[Ev]],
      spark.sqlContext)
    ms.addData(rows)
    ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  private def hourTs(i: Int) =
    new java.sql.Timestamp(1704067200000L + i * 3600000L) // 2024-01-01

  test("st02 flags a x10 decimal-point spike near 35,000") {
    // the spike's squared diff alone exceeds Long.MaxValue: a wrapping
    // long sum of squares makes the variance negative and z = 0.0; the
    // exact z over the 28-diff frame is 5.10
    val prints = (0 until 29).map(i => 35000.0 + (i % 5) * 0.25)
    val rows = (prints :+ prints.last * 10).zipWithIndex.map {
      case (v, i) => (i.toLong, hourTs(i), 1L, "idx", v)
    }
    val spike = StreamingAnomaly.st02FromStream(spark, memEvents(rows),
        operators.AnomalyConfig(dataPeriods = 28))
      .filter(col("event_id") === 29).collect()
    assert(spike.length == 1)
    val z = spike(0).getAs[Double]("zscore")
    assert(z >= 4.5 && spike(0).getAs[Int]("stddev_flag") == 1, s"z = $z")
  }

  test("st02 and st08 fail the query on a NaN or infinite value, " +
      "naming the key and event_id") {
    val detectors = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      "st02" -> (StreamingAnomaly.st02FromStream(spark, _)),
      "st08" -> (StreamingAnomaly.st08FromStream(spark, _)))
    for ((name, run) <- detectors;
         bad <- Seq(Double.NaN, Double.PositiveInfinity,
           Double.NegativeInfinity)) {
      val rows = Seq((1L, hourTs(0), 7L, "idx", 35000.0),
        (2L, hourTs(1), 7L, "idx", bad))
      val msgs = causes(intercept[Exception](run(memEvents(rows)).collect()))
      assert(msgs.contains(s"key (7,idx), event_id 2: value $bad is not"),
        s"$name on $bad: $msgs")
    }
  }

  test("event time before 1970 keeps its order and its µs gaps") {
    // Timestamp(-1500 ms) is 1969-12-31 23:59:58.5: whole seconds are
    // the floor of getTime / 1000, not its truncation
    assert(FixedPoint.usOf(new java.sql.Timestamp(-1500L)) == -1500000L)
    assert(FixedPoint.usOf(new java.sql.Timestamp(-1000L)) == -1000000L)
    val rows = Seq((1L, new java.sql.Timestamp(-1500L), 1L, "idx", 1.0),
      (2L, new java.sql.Timestamp(-1000L), 1L, "idx", 2.0))
    val gaps = StreamingAnomaly.st18FromStream(spark, memEvents(rows))
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("gap_us")).map(_.longValue)))
    assert(gaps.toSeq == Seq((1L, None), (2L, Some(500000L))),
      gaps.mkString(", "))
  }

  test("st23 fails the query on an event before 1970, naming the event") {
    // the -1 s print has no window a timeout can close: its floored
    // window ends at the epoch and Spark requires a positive timeout.
    // A truncating key put it in the 1970-01-01 bar, and the print
    // vanished from the output without an error
    val early = new java.sql.Timestamp(-1000L)
    val rows = Seq((1L, early, 1L, "idx", 1.0),
      (2L, new java.sql.Timestamp(2L * 86400000L), 1L, "idx", 2.0))
    val msgs = causes(intercept[Exception](
      StreamingAnomaly.st23FromStream(spark, memEvents(rows)).collect()))
    assert(msgs.contains(s"event_id 1: event time $early is before 1970"),
      msgs)
  }

  test("st02 and st08 fail the query on an event before 1970, " +
      "naming the event") {
    // both fold per ticker on an event-time timeout, so Spark's first
    // watermark (0) dropped the -1 s print as late before the fold saw
    // it: it vanished from the output without an error
    val early = new java.sql.Timestamp(-1000L)
    val rows = Seq((1L, early, 7L, "idx", 35000.0),
      (2L, hourTs(0), 7L, "idx", 35001.0))
    for ((name, run) <- Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
        "st02" -> (StreamingAnomaly.st02FromStream(spark, _)),
        "st08" -> (StreamingAnomaly.st08FromStream(spark, _)))) {
      val msgs = causes(intercept[Exception](run(memEvents(rows)).collect()))
      assert(msgs.contains(s"event_id 1: event time $early is before 1970"),
        s"$name: $msgs")
    }
  }

  test("st02 compiles at most one class per data batch once warm") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // one micro-batch per addData: no extra no-data batch for timeouts
    val confs = Seq("spark.sql.streaming.noDataMicroBatches.enabled" ->
      "false", "spark.sql.shuffle.partitions" -> "8")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val ms = MemoryStream[Ev](implicitly[org.apache.spark.sql.Encoder[Ev]],
      spark.sqlContext)
    val q = StreamingAnomaly.st02Transform(spark,
        ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        operators.AnomalyConfig(dataPeriods = 28))
      .writeStream.format("memory").queryName("st02_codegen_probe")
      .outputMode("append").start()
    try {
      // batch b: one print an hour for 20 tickers, so every key's
      // state is decoded, advanced and encoded again
      def compiles(b: Int): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        ms.addData((0 until 20).map(t => (b * 20L + t, hourTs(b), t.toLong,
          "idx", 100.0 + (b * 7 + t) % 13)))
        q.processAllAvailable()
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      (0 until 3).foreach(compiles) // warm-up: first decode of state
      // the one class left is the watermark filter, whose literal
      // changes every batch
      val warm = (3 until 7).map(compiles)
      info(s"compiles per data batch: $warm")
      assert(warm.forall(_ <= 1), s"compiles per data batch: $warm")
    } finally {
      q.stop()
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("st01 windowed agg totals match the batch count") {
    val windows = StreamingAnomaly.st01WindowAgg(spark, dir)
    val total = windows.agg(sum("n_events")).collect()(0).getLong(0)
    val batchTotal = Tables.events(spark, dir).count()
    // 6h windows sliding every 3h → each event lands in exactly 2 windows
    assert(total == 2 * batchTotal, s"windowed total $total vs batch $batchTotal")
  }

  test("st02 stateful flags emit one row per event plus staleness rows") {
    val out = StreamingAnomaly.st02StatefulFlags(spark, dir)
    // one row per event; staleness rows carry event_id = -1
    assert(out.filter(col("event_id") >= 0).count() ==
      Tables.events(spark, dir).count())
    val nStale = out.filter(col("event_id") === -1).count()
    assert(nStale > 0, "8-day staleness horizon must flag some tickers")
    out.filter(col("event_id") === -1).collect().foreach { r =>
      assert(r.getAs[Int]("staleness_flag") == 1 && r.getAs[Int]("anomaly") == 1)
    }
    val bad = out.filter(
      (col("anomaly") === 1 && col("stddev_flag") === 0 &&
        col("repetition_flag") === 0 && col("staleness_flag") === 0) ||
      (col("anomaly") === 0 && (col("stddev_flag") === 1 ||
        col("repetition_flag") === 1 || col("staleness_flag") === 1)))
      .count()
    assert(bad == 0)
  }

  /** Stage the µs events as four time-range slices with increasing
    * mtimes, so the file source delivers them as four chronological
    * micro-batches — the in-order contract st02/st08 document.
    */
  private def stageSlices(): java.io.File = {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val base = new java.io.File(
      s"${StreamingAnomaly.StageRoot}/st02_slices")
    if (!new java.io.File(base, "_DONE").exists()) {
      base.mkdirs()
      val ev = Tables.events(spark, dir)
      val edges = Seq("2024-01-08", "2024-01-15", "2024-01-22")
      val slices = Seq(
        col("ts") < edges(0),
        col("ts") >= edges(0) && col("ts") < edges(1),
        col("ts") >= edges(1) && col("ts") < edges(2),
        col("ts") >= edges(2))
      slices.zipWithIndex.foreach { case (cond, i) =>
        val tmp = new java.io.File(base, s"_tmp_$i")
        ev.filter(cond).coalesce(1).write.mode("overwrite")
          .parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(base, f"slice_$i%02d.parquet")
        Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst.toPath,
          FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      new java.io.File(base, "_DONE").createNewFile()
    }
    base
  }

  /** A stateful transform into the versioned file sink: the
    * kill-and-restart path the stateful detectors share.
    */
  private def fileSink(ds: org.apache.spark.sql.Dataset[_], out: String,
      cp: String): String =
    StreamRunner.toFileSink(spark, ds, StreamingAnomaly.versionedSink(out),
      StreamingAnomaly.versionedCheckpoint(cp))

  private def slicedStream() =
    spark.readStream.schema(StreamingAnomaly.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageSlices().getAbsolutePath)

  test("st02 multi-batch (maxFilesPerTrigger=1) matches the single-batch output") {
    val stream = slicedStream()
    val multi = StreamingAnomaly.st02FromStream(spark, stream)
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st02StatefulFlags(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length,
      s"multi-batch ${multi.length} rows vs single-batch ${single.length}")
    assert(multi.sameElements(single))
  }

  test("st02 kill-and-restart from checkpoint: resumed run completes the output") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    val inDir = Files.createTempDirectory("st02_restart_in").toFile
    val cp = Files.createTempDirectory("st02_restart_cp").toString
    def addSlice(i: Int): Unit = {
      val dst = new java.io.File(inDir, slices(i).getName)
      Files.copy(slices(i).toPath, dst.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst.toPath,
        FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val outPath = Files.createTempDirectory("st02_restart_out").toString
    def stream() = spark.readStream.schema(StreamingAnomaly.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
    // run 1 sees the first two slices, commits them, and is stopped;
    // the sink method returns the version-resolved output directory
    addSlice(0); addSlice(1)
    val written =
      fileSink(StreamingAnomaly.st02Transform(spark, stream()), outPath, cp)
    assert(written != outPath && written.startsWith(outPath),
      "sink path must be version-namespaced alongside the checkpoint")
    def sinkRows() = spark.read.parquet(written).collect().map(_.toString)
    val out1 = sinkRows()
    assert(out1.nonEmpty)
    // run 2 resumes from the SAME checkpoint after more data landed:
    // offsets skip the committed slices, the state store restores each
    // ticker's rolling window, the sink's file log keeps exactly-once
    addSlice(2); addSlice(3)
    fileSink(StreamingAnomaly.st02Transform(spark, stream()), outPath, cp)
    val resumed = sinkRows().sorted
    assert(resumed.length > out1.length, "restart must process new slices")
    val single = StreamingAnomaly.st02StatefulFlags(spark, dir)
      .collect().map(_.toString).sorted
    // set equality proves BOTH recoveries: re-read slices would
    // duplicate out1 rows; lost state would wrong every z-score whose
    // window spans the restart boundary
    assert(resumed.length == single.length,
      s"resumed ${resumed.length} rows vs single-run ${single.length}")
    assert(resumed.sameElements(single))
  }

  private val FileContextManager = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileContextBasedCheckpointFileManager"

  test("checkpoint files on file: paths go through Spark's FileSystem " +
      "manager") {
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val root = java.nio.file.Files.createTempDirectory("graft_cfm_class")
    // with and without the `file:` scheme (checkpoint options are
    // usually bare paths)
    for (p <- Seq(root.toUri.toString, root.toString)) {
      CheckpointFileManager.create(new org.apache.hadoop.fs.Path(p),
          spark.sessionState.newHadoopConf()) match {
        case g: graft.streaming.GraftCheckpointFileManager =>
          assert(g.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager],
            s"$p: ${g.underlying.getClass.getName}")
          assert(g.isLocal && g.exists(new org.apache.hadoop.fs.Path(p)), p)
        case other => fail(s"$p: session picked ${other.getClass.getName}")
      }
    }
  }

  test("the graft checkpoint manager keeps the FileContext manager's " +
      "atomic-write behaviour on a local dir") {
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    for (cls <- Seq(None, Some(FileContextManager))) {
      val root = new Path(
        java.nio.file.Files.createTempDirectory("graft_cfm").toUri)
      val hc = spark.sessionState.newHadoopConf()
      cls.foreach(hc.set(graft.streaming.GraftCheckpointFileManager.ConfKey, _))
      val fm = CheckpointFileManager.create(root, hc)
      val p = new Path(root, "0")
      def write(v: String, overwrite: Boolean): Unit = {
        val out = fm.createAtomic(p, overwrite)
        out.write(v.getBytes(UTF_8))
        out.close()
      }
      def read(): String = {
        val in = fm.open(p)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      write("a", overwrite = false)
      intercept[FileAlreadyExistsException](write("b", overwrite = false))
      assert(read() == "a", s"$cls: a refused write changed the file")
      // the state store overwrites its delta files; the JVM's cached
      // `file:` FileSystem (Hive's ProxyLocalFileSystem) would keep "a"
      write("c", overwrite = true)
      assert(read() == "c", s"$cls: an overwriting write kept the old file")
      // a cancelled write leaves neither the file nor its temp file
      val cancelDir = new Path(root, "cancelled")
      fm.mkdirs(cancelDir)
      val out = fm.createAtomic(new Path(cancelDir, "1"),
        overwriteIfPossible = false)
      out.write(1)
      out.cancel()
      val left = new java.io.File(cancelDir.toUri).list().toSeq
      assert(left.isEmpty, s"$cls: a cancelled write left $left")
    }
  }

  test("checkpoint files and directories get the modes Hadoop's chmod " +
      "gives them") {
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions.{toString => perms}
    import org.apache.hadoop.fs.{LocalFileSystem, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    val root = Files.createTempDirectory("graft_cfm_mode")
    val hc = spark.sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(new Path(root.toUri), hc)
    val dir = new Path(root.toUri.toString, "state/0")
    fm.mkdirs(dir)
    val out = fm.createAtomic(new Path(dir, "1.delta"),
      overwriteIfPossible = false)
    out.write(1)
    out.close()
    // Hadoop's own local file system, which runs `chmod` for each
    val stock = new LocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), hc)
    val stockDir = new Path(root.toUri.toString, "stock/0")
    stock.mkdirs(stockDir)
    stock.create(new Path(stockDir, "1.delta")).close()
    def mode(p: String) = perms(Files.getPosixFilePermissions(root.resolve(p)))
    for ((ours, theirs, want) <- Seq(("state/0", "stock/0", "rwxr-xr-x"),
        ("state/0/1.delta", "stock/0/1.delta", "rw-r--r--"),
        ("state/0/.1.delta.crc", "stock/0/.1.delta.crc", "rw-r--r--")))
      assert(mode(ours) == want && mode(theirs) == want,
        s"$ours: ${mode(ours)}, $theirs: ${mode(theirs)}, want $want")
  }

  test("the checkpoint file system's setPermission sets the exact mode " +
      "and fails on a missing path") {
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions.{toString => perms}
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val fs = new graft.streaming.GraftCheckpointFileManager.NioPermissions
    fs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val root = Files.createTempDirectory("graft_cfm_perm")
    val file = Files.createFile(root.resolve("f"))
    val sub = Files.createDirectory(root.resolve("d"))
    for ((p, octal, want) <- Seq((file, "600", "rw-------"),
        (file, "750", "rwxr-x---"), (sub, "750", "rwxr-x---"),
        (sub, "600", "rw-------"))) {
      fs.setPermission(new Path(p.toUri),
        new FsPermission(Integer.parseInt(octal, 8).toShort))
      assert(perms(Files.getPosixFilePermissions(p)) == want, s"$p $octal")
    }
    intercept[java.io.IOException](fs.setPermission(
      new Path(root.resolve("missing").toUri), new FsPermission("644")))
  }

  test("st02 resumes exactly once across a switch of checkpoint manager " +
      "and keeps Spark's state checksum files") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val key = graft.streaming.GraftCheckpointFileManager.ConfKey
    val graftManager = spark.conf.get(key)
    val single = StreamingAnomaly.st02StatefulFlags(spark, dir)
      .collect().map(_.toString).sorted
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    // the checkpoint written before the switch is the FileContext
    // manager's (Spark's default, and every graft checkpoint of older
    // builds), then the reverse
    for ((first, second) <- Seq(FileContextManager -> graftManager,
        graftManager -> FileContextManager)) {
      val inDir = Files.createTempDirectory("st02_switch_in").toFile
      val cp = Files.createTempDirectory("st02_switch_cp").toString
      val outPath = Files.createTempDirectory("st02_switch_out").toString
      def addSlice(i: Int): Unit = {
        val dst = new java.io.File(inDir, slices(i).getName)
        Files.copy(slices(i).toPath, dst.toPath,
          StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst.toPath,
          FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      def run(manager: String): String = {
        spark.conf.set(key, manager)
        try fileSink(StreamingAnomaly.st02Transform(spark,
            spark.readStream.schema(StreamingAnomaly.eventSchema)
              .option("maxFilesPerTrigger", "1")
              .parquet(inDir.getAbsolutePath)), outPath, cp)
        finally spark.conf.set(key, graftManager)
      }
      addSlice(0); addSlice(1)
      val written = run(first)
      val out1 = spark.read.parquet(written).count()
      addSlice(2); addSlice(3)
      run(second)
      val resumed = spark.read.parquet(written).collect().map(_.toString).sorted
      assert(resumed.length > out1, s"$first → $second: no new rows")
      assert(resumed.length == single.length && resumed.sameElements(single),
        s"$first → $second: resumed ${resumed.length} vs single ${single.length}")
      // Spark's own checksums (N.delta.crc), not Hadoop's hidden
      // .N.delta.crc sidecars
      val stateDir = new java.io.File(
        StreamingAnomaly.versionedCheckpoint(cp), "state")
      val crcs = Files.walk(stateDir.toPath).toArray
        .map(_.toString.split('/').last).filter(_.matches("\\d+\\.delta\\.crc"))
      assert(crcs.nonEmpty, s"$first → $second: no state checksum files")
    }
  }

  test("st09 kill-and-restart restores the custom two-limb Holt state " +
      "(HDFS and RocksDB providers)") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // the single-run reference: every (prefix-moment) z depends on the
    // key's ENTIRE history, so a resume that lost or mangled the
    // custom HoltState encoding wrongs every row after the restart
    val single = StreamingAnomaly.st09StreamHolt(spark, dir)
      .collect().map(_.toString).sorted
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    for (provider <- Seq(None, Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"))) {
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val inDir = Files.createTempDirectory("st09_restart_in").toFile
        val cp = Files.createTempDirectory("st09_restart_cp").toString
        val outPath = Files.createTempDirectory("st09_restart_out").toString
        def addSlice(i: Int): Unit = {
          val dst = new java.io.File(inDir, slices(i).getName)
          Files.copy(slices(i).toPath, dst.toPath,
            StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst.toPath,
            FileTime.fromMillis(1700000000000L + i * 60000L))
        }
        def stream() = spark.readStream.schema(StreamingAnomaly.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
        addSlice(0); addSlice(1)
        val written =
          fileSink(StreamingAnomaly.st09Transform(spark, stream()), outPath, cp)
        val out1 = spark.read.parquet(written).count()
        assert(out1 > 0)
        addSlice(2); addSlice(3)
        fileSink(StreamingAnomaly.st09Transform(spark, stream()), outPath, cp)
        val resumed = spark.read.parquet(written)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts").as("date_recorded"), col("value"), col("forecast"),
            col("resid"), col("holt_z6"), col("holt_flag"))
          .collect().map(_.toString).sorted
        assert(resumed.length > out1, "restart must process new slices")
        assert(resumed.length == single.length,
          s"$provider: resumed ${resumed.length} vs single ${single.length}")
        assert(resumed.sameElements(single), s"$provider: rows differ")
      } finally provider.foreach(_ => spark.conf.unset(providerKey))
    }
  }

  test("st17 kill-and-restart restores the seasonal ring state " +
      "(HDFS and RocksDB providers)") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // the single-run reference: each forecast depends on the key's
    // ring (which phases are seeded, with what values) AND the prefix
    // moments — a resume that mangled either wrongs every later row
    val single = StreamingAnomaly.st17StreamHoltWinters(spark, dir)
      .collect().map(_.toString).sorted
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    for (provider <- Seq(None, Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"))) {
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val inDir = Files.createTempDirectory("st17_restart_in").toFile
        val cp = Files.createTempDirectory("st17_restart_cp").toString
        val outPath = Files.createTempDirectory("st17_restart_out").toString
        def addSlice(i: Int): Unit = {
          val dst = new java.io.File(inDir, slices(i).getName)
          Files.copy(slices(i).toPath, dst.toPath,
            StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst.toPath,
            FileTime.fromMillis(1700000000000L + i * 60000L))
        }
        def stream() = spark.readStream.schema(StreamingAnomaly.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
        addSlice(0); addSlice(1)
        val written =
          fileSink(StreamingAnomaly.st17Transform(spark, stream()), outPath, cp)
        val out1 = spark.read.parquet(written).count()
        assert(out1 > 0)
        addSlice(2); addSlice(3)
        fileSink(StreamingAnomaly.st17Transform(spark, stream()), outPath, cp)
        val resumed = spark.read.parquet(written)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts").as("date_recorded"), col("value"), col("forecast"),
            col("resid"), col("season"), col("hw_z6"), col("hw_flag"))
          .collect().map(_.toString).sorted
        assert(resumed.length > out1, "restart must process new slices")
        assert(resumed.length == single.length,
          s"$provider: resumed ${resumed.length} vs single ${single.length}")
        assert(resumed.sameElements(single), s"$provider: rows differ")
      } finally provider.foreach(_ => spark.conf.unset(providerKey))
    }
  }

  test("st38 kill-and-restart restores the PSI histogram state " +
      "(HDFS and RocksDB providers)") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // the single-run reference: every psi9 depends on the type's
    // ENTIRE prefix occupancy, so a resume that lost or mangled the
    // bucket-count state wrongs every row after the restart
    val ref = StreamingAnomaly.st13Reference(spark, dir)
    val single = StreamingAnomaly.st38StreamPsi(spark, dir)
      .collect().map(_.toString).sorted
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    for (provider <- Seq(None, Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"))) {
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val inDir = Files.createTempDirectory("st38_restart_in").toFile
        val cp = Files.createTempDirectory("st38_restart_cp").toString
        val outPath = Files.createTempDirectory("st38_restart_out").toString
        def addSlice(i: Int): Unit = {
          val dst = new java.io.File(inDir, slices(i).getName)
          Files.copy(slices(i).toPath, dst.toPath,
            StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst.toPath,
            FileTime.fromMillis(1700000000000L + i * 60000L))
        }
        def stream() = spark.readStream.schema(StreamingAnomaly.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
        addSlice(0); addSlice(1)
        val written = fileSink(
          StreamingAnomaly.st38Transform(spark, stream(), ref), outPath, cp)
        val out1 = spark.read.parquet(written).count()
        assert(out1 > 0)
        addSlice(2); addSlice(3)
        fileSink(StreamingAnomaly.st38Transform(spark, stream(), ref),
          outPath, cp)
        val resumed = spark.read.parquet(written)
          .select(col("event_type"), col("event_id"),
            col("ts").as("date_recorded"), col("value"), col("n_seen"),
            col("psi9"), col("drift_flag"))
          .collect().map(_.toString).sorted
        assert(resumed.length > out1, "restart must process new slices")
        assert(resumed.length == single.length,
          s"$provider: resumed ${resumed.length} vs single ${single.length}")
        assert(resumed.sameElements(single), s"$provider: rows differ")
      } finally provider.foreach(_ => spark.conf.unset(providerKey))
    }
  }

  test("st38 per-print PSI: a planted mid-stream distribution shift " +
      "crosses the 0.2 bar only after the shift") {
    import spark.implicits._
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // history days 1..10 (reference era = days 1..5 by the midpoint
    // pivot): values ~100 (bucket 1). From day 8 hour onwards the feed
    // jumps to ~900 (bucket 9) — prints before the jump must sit under
    // the 0.2 bar, the accumulating occupancy after it must cross
    val rows = (1 to 10).flatMap { d =>
      (0 until 4).map { h =>
        val v = if (d <= 7) 100.0 + h else 900.0 + h
        (1L, "x", (d * 10 + h).toLong, t(d, 9 + h), v)
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("st38spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st38StreamPsi(spark, tmp).collect()
    assert(out.length == rows.length, "one verdict per print")
    val byId = out.map(r => r.getAs[Long]("event_id") -> r).toMap
    // day 6 (post-reference, pre-shift): same distribution, no drift
    assert(byId(63L).getAs[Int]("drift_flag") == 0, byId(63L).toString)
    // late prints after the jump: occupancy has moved two-plus buckets
    val last = byId(103L)
    assert(last.getAs[Int]("drift_flag") == 1 &&
      last.getAs[Long]("psi9") > 200000000L, last.toString)
    // n_seen accumulates across the whole (gap-free) stream
    assert(last.getAs[Long]("n_seen") == rows.length, last.toString)
  }

  test("st39 windowed Spearman: ramps read ±1, monotone re-scale is " +
      "invariant, warm-up prints emit NULL") {
    import spark.implicits._
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // user 1: strictly increasing; user 2: strictly decreasing;
    // user 3: user 1 squared/100 (a strictly monotone re-scale —
    // identical value RANKS, so identical rho6 per print); user 4:
    // an up-down alternation (rank-decorrelated, |rho| small)
    val rows = (0 until 12).flatMap { i =>
      val v1 = 100.0 + 7.0 * i
      Seq(
        (1L, "x", (100 + i).toLong, t(1 + i / 4, 9 + i % 4), v1),
        (2L, "x", (200 + i).toLong, t(1 + i / 4, 9 + i % 4), 500.0 - 3.0 * i),
        (3L, "x", (300 + i).toLong, t(1 + i / 4, 9 + i % 4), v1 * v1 / 100.0),
        (4L, "x", (400 + i).toLong, t(1 + i / 4, 9 + i % 4),
          if (i % 2 == 0) 100.0 else 200.0 + i))
    }
    val tmp = java.nio.file.Files.createTempDirectory("st39spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st39StreamSpearman(spark, tmp).collect()
    val byId = out.map(r => r.getAs[Long]("event_id") -> r).toMap
    // warm-up (n < 5) emits NULL, visible row
    assert(byId(103L).isNullAt(byId(103L).fieldIndex("rho6")))
    assert(byId(103L).getAs[Int]("mono_flag") == 0)
    // full-window ramps: exactly ±1e6
    assert(byId(111L).getAs[Long]("rho6") == 1000000L, byId(111L).toString)
    assert(byId(111L).getAs[Int]("mono_flag") == 1)
    assert(byId(211L).getAs[Long]("rho6") == -1000000L, byId(211L).toString)
    // monotone re-scale invariance: user 3 matches user 1 print-for-print
    (4 until 12).foreach { i =>
      assert(byId((300 + i).toLong).getAs[Long]("rho6") ==
        byId((100 + i).toLong).getAs[Long]("rho6"), s"print $i")
    }
    // the alternator never looks monotone
    assert(byId(411L).getAs[Int]("mono_flag") == 0, byId(411L).toString)
  }

  test("st23 streaming bars: deterministic open/close per closed day, " +
      "the unclosed tail window held back; multi-batch matches") {
    import spark.implicits._
    def t(day: Int, h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:$m%02d:00")
    // day 1: same-timestamp open prints (event_id tie-break), a spike
    // high and a close; day 2: one print; day 3 (the max-event-time
    // day): its window cannot close under the 1 h watermark
    val rows = Seq(
      (1L, "x", 1L, t(1, 9), 10.0), (1L, "x", 0L, t(1, 9), 10.5),
      (1L, "x", 2L, t(1, 12), 15.0), (1L, "x", 3L, t(1, 16), 11.0),
      (1L, "x", 4L, t(2, 10), 9.0),
      (1L, "x", 5L, t(3, 10), 7.0))
    val tmp = java.nio.file.Files.createTempDirectory("st23spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st23StreamBars(spark, tmp).collect()
    assert(out.length == 2, out.mkString("\n")) // day 3 never closes
    val d1 = out.head
    assert(d1.getAs[Double]("open") == 10.5, d1.toString) // event_id 0
    assert(d1.getAs[Double]("high") == 15.0 &&
      d1.getAs[Double]("low") == 10.0 &&
      d1.getAs[Double]("close") == 11.0 &&
      d1.getAs[Long]("n_trades") == 4, d1.toString)
    val d2 = out(1)
    assert(d2.getAs[Double]("open") == 9.0 &&
      d2.getAs[Double]("close") == 9.0 &&
      d2.getAs[Long]("n_trades") == 1, d2.toString)
    // batch boundaries don't perturb the bar state
    val multi = StreamingAnomaly.st23FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st23StreamBars(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.nonEmpty)
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st22 streaming EWMA: the dyadic recursion replays bit-for-bit, " +
      "a spike flags at 3 sigma, multi-batch matches") {
    import spark.implicits._
    val vals = (1 to 30).map(i => 10.0 + (if (i % 2 == 0) 0.2 else -0.2)) ++
      Seq(18.0) ++ Seq.fill(9)(10.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "e", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("st22spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st22StreamEwma(spark, tmp).collect()
      .sortBy(_.getAs[Long]("event_id"))
    assert(out.length == 40)
    // local replay of the exact recursion
    var l = math.floor(vals.head * 10000.0 + 0.5).toLong
    assert(out.head.getAs[Double]("ewma") == l / 10000.0)
    assert(out.head.isNullAt(out.head.fieldIndex("resid")))
    vals.zipWithIndex.drop(1).foreach { case (v, i) =>
      val vl = math.floor(v * 10000.0 + 0.5).toLong
      val e = vl - l
      l = math.floor((vl + 3.0 * l) / 4.0).toLong
      val row = out(i)
      assert(row.getAs[Double]("ewma") == l / 10000.0, s"row $i: $row")
      assert(row.getAs[Double]("resid") == e / 10000.0, s"row $i: $row")
    }
    // the planted spike is the only 3-sigma flag
    val flagged = out.filter(_.getAs[Int]("ewma_flag") == 1)
      .map(_.getAs[Long]("event_id"))
    assert(flagged.contains(30L), flagged.mkString(","))
    assert(!flagged.exists(_ < 30L), flagged.mkString(","))
    // batch boundaries don't perturb the level + moment state
    val multi = StreamingAnomaly.st22FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st22StreamEwma(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st21 kill-and-restart restores the moment + zone-ring state " +
      "(HDFS and RocksDB providers)") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // the single-run reference: every z depends on the key's whole
    // prefix moments and every rule on the last-7 ring — a resume
    // that lost or mangled either wrongs rows after the restart
    val single = StreamingAnomaly.st21StreamSpc(spark, dir)
      .collect().map(_.toString).sorted
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    for (provider <- Seq(None, Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"))) {
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val inDir = Files.createTempDirectory("st21_restart_in").toFile
        val cp = Files.createTempDirectory("st21_restart_cp").toString
        val outPath = Files.createTempDirectory("st21_restart_out").toString
        def addSlice(i: Int): Unit = {
          val dst = new java.io.File(inDir, slices(i).getName)
          Files.copy(slices(i).toPath, dst.toPath,
            StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst.toPath,
            FileTime.fromMillis(1700000000000L + i * 60000L))
        }
        def stream() = spark.readStream.schema(StreamingAnomaly.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
        addSlice(0); addSlice(1)
        val written =
          fileSink(StreamingAnomaly.st21Transform(spark, stream()), outPath, cp)
        val out1 = spark.read.parquet(written).count()
        assert(out1 > 0)
        addSlice(2); addSlice(3)
        fileSink(StreamingAnomaly.st21Transform(spark, stream()), outPath, cp)
        val resumed = spark.read.parquet(written)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts").as("date_recorded"), col("value"), col("zscore6"),
            col("rule1"), col("rule2"), col("rule3"), col("rule4"),
            col("spc_flag"))
          .collect().map(_.toString).sorted
        assert(resumed.length > out1, "restart must process new slices")
        assert(resumed.length == single.length,
          s"$provider: resumed ${resumed.length} vs single ${single.length}")
        assert(resumed.sameElements(single), s"$provider: rows differ")
      } finally provider.foreach(_ => spark.conf.unset(providerKey))
    }
  }

  test("st08 streaming CUSUM obeys the clamped recursion and flags consistently") {
    val rows = StreamingAnomaly.st08StreamCusum(spark, dir).collect()
    assert(rows.length == Tables.events(spark, dir).count())
    val staleUs = (8.0 * 86400e6).toLong
    def us(t: java.sql.Timestamp) = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    var key = ("", "")
    var lastUs = 0L
    var sPos = 0L
    var sNeg = 0L
    rows.foreach { r =>
      val k = (r.getAs[Long]("user_id").toString, r.getAs[String]("event_type"))
      val ts = us(r.getAs[java.sql.Timestamp]("date_recorded"))
      if (k != key || ts - lastUs > staleUs) { key = k; sPos = 0; sNeg = 0 }
      lastUs = ts
      val zf = math.round(r.getAs[Double]("zscore6") * 1e6)
      sPos = math.max(0L, sPos + zf - 500000L)
      sNeg = math.max(0L, sNeg - zf - 500000L)
      assert(math.round(r.getAs[Double]("cusum_pos") * 1e6) == sPos, r.toString)
      assert(math.round(r.getAs[Double]("cusum_neg") * 1e6) == sNeg, r.toString)
      val want = if (sPos > 5000000L || sNeg > 5000000L) 1 else 0
      assert(r.getAs[Int]("changepoint_flag") == want, r.toString)
    }
  }

  test("st08 multi-batch (maxFilesPerTrigger=1) matches the single-batch output") {
    val multi = StreamingAnomaly.st08FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st08StreamCusum(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st09 multi-batch (maxFilesPerTrigger=1) matches the single-batch output") {
    val multi = StreamingAnomaly.st09FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st09StreamHolt(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
    // one row per event; the dyadic recursion matches q54's within
    // each staleness segment (z differs: causal prefix vs whole-series)
    assert(single.length == Tables.events(spark, dir).count())
  }

  test("st14 streaming Kalman: exact segment recursion; multi-batch matches") {
    val rows = StreamingAnomaly.st14StreamKalman(spark, dir).collect()
    assert(rows.length == Tables.events(spark, dir).count())
    // replay q62's integer-gain recursion with the 8-day segment
    // restart; every emitted gain/level/z must match bit-for-bit
    val staleUs = (8.0 * 86400e6).toLong
    def us(t: java.sql.Timestamp) =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val Qc = 10000000L
    val Rc = 100000000L
    var key = ("", "")
    var lastUs = 0L
    var have = false
    var l = 0L
    var p = 0L
    rows.foreach { r =>
      val k = (r.getAs[Long]("user_id").toString,
        r.getAs[String]("event_type"))
      val ts = us(r.getAs[java.sql.Timestamp]("date_recorded"))
      if (k != key || ts - lastUs > staleUs) { key = k; have = false }
      lastUs = ts
      val vl = math.floor(r.getAs[Double]("value") * 10000.0 + 0.5).toLong
      if (!have) {
        l = vl; p = Rc; have = true
        assert(r.isNullAt(r.fieldIndex("kgain6")), r.toString)
        assert(math.round(r.getAs[Double]("level") * 1e4) == vl, r.toString)
      } else {
        val pp = p + Qc
        val err = vl - l
        val k6 = math.floor(pp * 1000000.0 / (pp + Rc)).toLong
        l += math.floor(k6 * err / 1000000.0).toLong
        p = math.floor((1000000L - k6) * pp / 1000000.0).toLong
        val z6 = math.floor(err / math.sqrt((pp + Rc).toDouble) *
          1000000.0 + 0.5).toLong
        assert(math.round(r.getAs[Double]("kgain6") * 1e6) == k6, r.toString)
        assert(math.round(r.getAs[Double]("level") * 1e4) == l, r.toString)
        assert(math.round(r.getAs[Double]("kalman_z6") * 1e6) == z6,
          r.toString)
        assert(r.getAs[Int]("kalman_flag") ==
          (if (math.abs(z6) >= 3000000L) 1 else 0), r.toString)
      }
    }
    // batch boundaries don't perturb the state recursion
    val multi = StreamingAnomaly.st14FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    assert(multi.length == rows.length &&
      multi.sameElements(rows.map(_.toString).sorted))
  }

  test("st14 kill-and-restart restores the exact Kalman state " +
      "(HDFS and RocksDB providers)") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // the gain sequence depends on the key's ENTIRE history through
    // the carried posterior variance, so a resume that lost or mangled
    // KalmanState wrongs every row after the restart
    val single = StreamingAnomaly.st14StreamKalman(spark, dir)
      .collect().map(_.toString).sorted
    val slices = stageSlices().listFiles()
      .filter(_.getName.startsWith("slice_")).sortBy(_.getName)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    for (provider <- Seq(None, Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"))) {
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val inDir = Files.createTempDirectory("st14_restart_in").toFile
        val cp = Files.createTempDirectory("st14_restart_cp").toString
        val outPath = Files.createTempDirectory("st14_restart_out").toString
        def addSlice(i: Int): Unit = {
          val dst = new java.io.File(inDir, slices(i).getName)
          Files.copy(slices(i).toPath, dst.toPath,
            StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst.toPath,
            FileTime.fromMillis(1700000000000L + i * 60000L))
        }
        def stream() = spark.readStream.schema(StreamingAnomaly.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
        addSlice(0); addSlice(1)
        val written =
          fileSink(StreamingAnomaly.st14Transform(spark, stream()), outPath, cp)
        val out1 = spark.read.parquet(written).count()
        assert(out1 > 0)
        addSlice(2); addSlice(3)
        fileSink(StreamingAnomaly.st14Transform(spark, stream()), outPath, cp)
        val resumed = spark.read.parquet(written)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts").as("date_recorded"), col("value"), col("level"),
            col("kgain6"), col("innovation"), col("kalman_z6"),
            col("kalman_flag"))
          .collect().map(_.toString).sorted
        assert(resumed.length > out1, "restart must process new slices")
        assert(resumed.length == single.length,
          s"$provider: resumed ${resumed.length} vs single ${single.length}")
        assert(resumed.sameElements(single), s"$provider: rows differ")
      } finally provider.foreach(_ => spark.conf.unset(providerKey))
    }
  }

  test("st15 streaming trend: live tau tracks a reversal; multi-batch matches") {
    import spark.implicits._
    def write(vals: Seq[Double]): String = {
      val df = vals.zipWithIndex.map { case (v, i) =>
        (1L, "t", i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
      }.toDF("user_id", "event_type", "event_id", "ts", "value")
      val tmp = java.nio.file.Files.createTempDirectory("st15spec").toString
      df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // ramp up 20 then down 20: the windowed tau starts at +1, crosses
    // to -1 once the 16-window fills with the falling leg — a verdict
    // q64's whole-series tau (~0) structurally can't give
    val vals = (0 until 20).map(10.0 + _) ++ (0 until 20).map(29.0 - _)
    val out = StreamingAnomaly.st15StreamTrend(spark, write(vals))
      .collect().sortBy(_.getAs[Long]("event_id"))
    assert(out.length == 40)
    assert(out.head.isNullAt(out.head.fieldIndex("mk_tau6")))
    assert(out(19).getAs[Double]("mk_tau6") == 1.0, out(19).toString)
    assert(out(39).getAs[Double]("mk_tau6") == -1.0, out(39).toString)
    assert(math.abs(out(19).getAs[Double]("sen_slope_day") - 1440.0) < 1e-6,
      out(19).toString)
    out.foreach(r => assert(r.getAs[Int]("n_window") <= 16, r.toString))
    // batch boundaries don't perturb the window state
    val multi = StreamingAnomaly.st15FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st15StreamTrend(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st03 streaming dedup emits each (user, type, value) once") {
    val out = StreamingAnomaly.st03StreamDedup(spark, dir)
    val n = out.count()
    val distinct = Tables.events(spark, dir)
      .select("user_id", "event_type", "value").distinct().count()
    assert(n == distinct, s"stream dedup $n vs batch distinct $distinct")
  }

  test("st10 heavy hitters: planted dominator is rank 1 with exact count") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hh1").toString
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // window [00:00, 06:00): user 7 dominates with 50 events, users
    // 1-5 have 3 each; a next-day event advances the watermark past
    // the window end so the timeout finalizes it
    val rows =
      (1 to 50).map(i => (1000L + i, ts(1, i % 60), 7L, "view", 1.0, "")) ++
        (1 to 5).flatMap(u => (1 to 3).map(j =>
          (2000L + u * 10 + j, ts(2, (u * 7 + j) % 60), u.toLong,
            "view", 1.0, ""))) ++
        Seq((9999L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
          1L, "view", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema(StreamingAnomaly.eventSchema).parquet(tmp)
    val out = StreamingAnomaly.st10FromStream(spark, stream).collect()
    val w0Start = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val w0 = out.filter(_.getTimestamp(0) == w0Start)
    assert(w0.length == 5, s"topN of the closed window: ${out.toSeq}")
    val r1 = w0.find(_.getInt(1) == 1).get
    assert(r1.getLong(2) == 7L && r1.getLong(3) == 50L &&
      r1.getLong(4) == 0L, "dominator exact under capacity")
    assert(w0.forall(_.getLong(5) == 65L), "window total rides along")
    // the still-open final window must NOT have emitted
    assert(out.forall(_.getTimestamp(0) == w0Start))
  }

  test("st10 SpaceSaving invariants hold past counter capacity") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hh2").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 01:$m%02d:00")
    // 10 distinct users through k=4 counters: user 1 has 10 events,
    // users 2-10 one each — the guaranteed heavy hitter must survive
    // eviction and the counter bank must conserve the window total
    val rows =
      (1 to 10).map(i => (100L + i, ts(i), 1L, "view", 1.0, "")) ++
        (2 to 10).map(u => (200L + u, ts(10 + u), u.toLong,
          "view", 1.0, "")) ++
        Seq((999L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
          1L, "view", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream
      .schema(StreamingAnomaly.eventSchema).parquet(tmp)
    val out = StreamingAnomaly
      .st10FromStream(spark, stream, k = 4, topN = 4).collect()
    val w0 = out.filter(_.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(w0.length == 4, s"all k counters emitted: ${out.toSeq}")
    assert(w0.map(_.getLong(3)).sum == 19L,
      "SpaceSaving conserves the item total across counters")
    val hh = w0.find(_.getLong(2) == 1L)
    assert(hh.isDefined, "count-10 hitter cannot be evicted at k=4, n=19")
    assert(hh.get.getLong(3) >= 10L &&
      hh.get.getLong(3) - hh.get.getLong(4) <= 10L,
      "est >= true >= est - max_err")
    assert(w0.forall(_.getLong(5) == 19L))
  }

  test("st11 streaming quantiles: bucket estimates bound the exact ranks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sq").toString
    // values 1..640 in one window; buckets=64 over domain 640 → bucket
    // width 10.0. Exact p50 rank = 320, p99 rank = 634; the histogram
    // reports each bucket's upper edge: 330.0 and 640.0
    val rows = (1 to 640).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 6}%02d:${i % 60}%02d:${i % 50 + 10}%02d"),
        1L, "m", i.toDouble, "")) ++ Seq(
      // a second type with one OUT-OF-DOMAIN value: clamps into the
      // top bucket and must be reported via n_clamped
      (8888L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"),
        1L, "z", 5000.0, ""),
      (9999L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        1L, "m", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val stream = spark.readStream
      .schema(StreamingAnomaly.eventSchema).parquet(s"$tmp/events.parquet")
    val all = StreamingAnomaly
      .st11FromStream(spark, stream, buckets = 64, domainMax = 640.0)
      .collect()
    val w0 = all.filter(_.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val out = w0.filter(_.getString(1) == "m")
    assert(out.length == 1, s"one closed window: ${all.toSeq}")
    assert(out.head.getLong(8) == 0L, "in-domain window: nothing clamped")
    val z = w0.filter(_.getString(1) == "z")
    assert(z.length == 1 && z.head.getLong(8) == 1L,
      s"out-of-domain value must be counted as clamped: ${z.toSeq}")
    assert(z.head.getDouble(4) == 5000.0, "exact max rides along")
    val r = out.head
    assert(r.getLong(2) == 640L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 640.0)
    assert(r.getDouble(7) == 10.0, "error bound is one bucket width")
    assert(r.getDouble(5) == 330.0, s"p50 upper edge: ${r.getDouble(5)}")
    assert(r.getDouble(6) == 640.0, s"p99 upper edge: ${r.getDouble(6)}")
    // the histogram invariant: est >= true > est - width
    assert(r.getDouble(5) >= 320.0 && r.getDouble(5) - 10.0 <= 320.0)
    assert(r.getDouble(6) >= 634.0 && r.getDouble(6) - 10.0 <= 634.0)
  }

  test("st07 streaming corpus prep matches the batch distinct feature set") {
    val out = graft.streaming.StreamingCorpus.st07StreamCorpus(spark, dir)
    val n = out.count()
    val distinct = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.md5(
        graft.dedup.Dedup.normText(org.apache.spark.sql.functions.col("text"))))
      .distinct().count()
    assert(n == distinct, s"stream corpus $n vs batch distinct $distinct")
  }

  test("st12 streaming admission drops index dups and in-stream dups, " +
      "admits novel docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("adm").toString
    // index = doc_id % 10 != 7; batch stream = doc_id % 10 == 7.
    // 17 copies index doc 1 (case-folded: dropped), 27 and 37 are
    // identical novel docs (ONE admitted), 47 is unique (admitted).
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s1", 22L),
      (2L, "some other corpus text here", "en", "s1", 27L),
      (17L, "ALPHA  beta GAMMA delta", "en", "s2", 23L),
      (27L, "fresh arrival body", "en", "s2", 18L),
      (37L, "fresh arrival body", "en", "s3", 18L),
      (47L, "another novel document", "en", "s3", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.streaming.StreamingCorpus
      .st12StreamAdmission(spark, tmp).collect()
    assert(out.length == 2, out.mkString(";"))
    val expect = docs.filter(col("doc_id").isin(27L, 47L))
      .select(md5(graft.dedup.Dedup.normText(col("text"))))
      .collect().map(_.getString(0)).toSet
    assert(out.map(_.getString(0)).toSet == expect)
  }

  test("st13 streaming drift: stable windows score exactly zero, a " +
      "level shift flags after the pivot") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("drift").toString
    def ts(d: Int, sec: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:$sec%02d")
    // bucket width = 100 value units; 10 events/day, one per bucket →
    // every stable window's occupancy EQUALS the reference occupancy
    // (p = q per bucket, PSI exactly 0). "shift" piles all 10 on the
    // top bucket after the era pivot (Jan 10).
    val rows = (1 to 20).flatMap { d =>
      (0 until 10).flatMap { b =>
        val stableV = b * 100.0 + 50.0
        val shiftV = if (d <= 10) stableV else 950.0
        Seq((d * 100 + b + 1L, ts(d, b), 1L, "stable", stableV, ""),
          (d * 1000 + b + 1L, ts(d, b), 2L, "shift", shiftV, ""))
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st13StreamDrift(spark, tmp).collect()
    // day 20's window ends after the final watermark → 19 days emit
    val stable = out.filter(_.getString(1) == "stable")
    val shift = out.filter(_.getString(1) == "shift")
    assert(stable.length == 19 && shift.length == 19, s"${out.length}")
    assert(stable.forall(r => r.getLong(3) == 0L && r.getInt(4) == 0),
      "identical occupancy must score PSI exactly 0")
    val (pre, post) = shift.partition(
      _.getTimestamp(0).before(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")))
    assert(pre.forall(_.getInt(4) == 0))
    assert(post.length == 9 &&
      post.forall(r => r.getInt(4) == 1 && r.getLong(3) > 1000000000L),
      post.map(_.toString).mkString(";"))
  }

  test("st18 streaming gap monitor: exact gaps, stale flag, multi-batch") {
    import spark.implicits._
    // daily ticks, then a 10-day silence, then daily again: the
    // resumption row carries the exact 10-day gap and the stale flag
    val days = (1 to 5) ++ (15 to 18)
    val df = days.zipWithIndex.map { case (d, i) =>
      (1L, "t", i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 06:00:00"), 1.0 * i)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("st18spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st18StreamGap(spark, tmp)
      .collect().sortBy(_.getAs[Long]("event_id"))
    assert(out.length == 9)
    assert(out.head.isNullAt(out.head.fieldIndex("gap_us")) &&
      out.head.getAs[Int]("stale_flag") == 0, out.head.toString)
    assert(out(1).getAs[Long]("gap_us") == 86400000000L &&
      out(1).getAs[Double]("gap_days6") == 1.0 &&
      out(1).getAs[Int]("stale_flag") == 0, out(1).toString)
    val resume = out(5) // jan 5 -> jan 15
    assert(resume.getAs[Long]("gap_us") == 10L * 86400000000L &&
      resume.getAs[Double]("gap_days6") == 10.0 &&
      resume.getAs[Int]("stale_flag") == 1, resume.toString)
    assert(out.count(_.getAs[Int]("stale_flag") == 1) == 1)
    // batch boundaries don't perturb the heartbeat state
    val multi = StreamingAnomaly.st18FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st18StreamGap(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st19 streaming Page-Hinkley: equals q70 on a gapless stream; " +
      "multi-batch matches") {
    import spark.implicits._
    // gapless minute cadence: no segment restarts, so the streaming
    // recursion must equal q70's batch windows row for row
    val vals = Seq.fill(30)(10.0) ++ Seq.fill(20)(15.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "x", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("st19spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val live = StreamingAnomaly.st19StreamPageHinkley(spark, tmp)
      .select("user_id", "event_type", "event_id", "value", "ph9", "ph_flag")
      .collect().map(_.toString).sorted
    val batch = graft.operators.SignalOps.q70PageHinkley(spark, tmp)
      .select("user_id", "event_type", "event_id", "value", "ph9", "ph_flag")
      .collect().map(_.toString).sorted
    assert(live.length == batch.length && live.sameElements(batch))
    // batch boundaries don't perturb the five-long state
    val multi = StreamingAnomaly.st19FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st19StreamPageHinkley(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st21 streaming SPC: a same-side run trips rule 4 live, a gap " +
      "restarts the chart; multi-batch matches") {
    import spark.implicits._
    // q74's layout: 30 alternating 9/11 (last one 9), then 10 gently
    // above-center points — rule 4 trips at the 8th consecutive
    val vals = (1 to 30).map(i => if (i % 2 == 0) 9.0 else 11.0) ++
      Seq.fill(10)(10.6)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, "run", i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp = java.nio.file.Files.createTempDirectory("st21spec").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st21StreamSpc(spark, tmp).collect()
      .sortBy(_.getAs[Long]("event_id"))
    assert(out.length == 40)
    assert(out.forall(_.getAs[Int]("rule1") == 0))
    val r4 = out.map(_.getAs[Int]("rule4"))
    assert(r4.take(37).forall(_ == 0), r4.mkString(","))
    assert(r4.drop(37).forall(_ == 1), r4.mkString(","))
    assert(out.drop(37).forall(_.getAs[Int]("spc_flag") == 1))
    // a 9-day gap restarts the segment: the same run again, but the
    // first 7 post-gap rows cannot have a full lookback
    val vals2 = vals ++ Seq.fill(10)(10.6)
    val df2 = vals2.zipWithIndex.map { case (v, i) =>
      val base = if (i < 40) i.toLong else i.toLong + 9L * 24 * 60
      (1L, "gap", i.toLong, new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime +
          base * 60000L), v)
    }.toDF("user_id", "event_type", "event_id", "ts", "value")
    val tmp2 = java.nio.file.Files.createTempDirectory("st21spec2").toString
    df2.write.mode("overwrite").parquet(s"$tmp2/events.parquet")
    val out2 = StreamingAnomaly.st21StreamSpc(spark, tmp2).collect()
      .sortBy(_.getAs[Long]("event_id"))
      .filter(_.getAs[String]("event_type") == "gap")
    // post-gap rows (40..49) restart: rules silent for the first 7
    assert(out2.slice(40, 47).forall(_.getAs[Int]("rule4") == 0),
      out2.slice(40, 47).map(_.toString).mkString("\n"))
    // batch boundaries don't perturb the moment+ring state
    val multi = StreamingAnomaly.st21FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st21StreamSpc(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st20 streaming funnel: emits on each stage advance; multi-batch") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${m}%02d:00")
    // same planted journeys as the q73 spec: user 1 converts fully,
    // user 2 does b-before-a, user 3 stops at b, user 4 never starts
    val rows = Seq(
      (1L, "a", 0L, ts(1), 1.0), (1L, "b", 1L, ts(2), 1.0),
      (1L, "c", 2L, ts(3), 1.0),
      (2L, "b", 3L, ts(1), 1.0), (2L, "a", 4L, ts(2), 1.0),
      (3L, "a", 5L, ts(1), 1.0), (3L, "b", 6L, ts(2), 1.0),
      (4L, "c", 7L, ts(1), 1.0))
    val tmp = java.nio.file.Files.createTempDirectory("st20spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st20StreamFunnel(spark, tmp).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage")) -> r)
      .toMap
    assert(out.keySet == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1),
      (3L, 2)), out.keySet.toString)
    assert(out((1L, 3)).getAs[java.sql.Timestamp]("ts") == ts(3))
    assert(out((2L, 1)).getAs[java.sql.Timestamp]("ts") == ts(2))
    // batch boundaries don't perturb the funnel state
    val resolved = graft.Tables.events(spark, dir)
      .select(col("event_type")).distinct()
      .orderBy(col("event_type")).limit(3).as[String].collect()
    val multi = StreamingAnomaly.st20FromStream(spark, slicedStream(),
      (resolved(0), resolved(1), resolved(2)))
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st20StreamFunnel(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st16 streaming Benford: conforming window passes, fabricated " +
      "feed flags with the right worst digit") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("benford16").toString
    def ts(d: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$d%02d 12:${i / 60}%02d:${i % 60}%02d")
    // "nat": first-digit counts ≈ rounded Benford for n = 100 → tiny
    // chi2; "fab": 50 defaulted 555.0 values (all digit 5) + one
    // non-positive value that must be SKIPPED, not scored
    val natCounts = Seq(30, 18, 12, 10, 8, 7, 6, 5, 4)
    val nat = natCounts.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)((d + 1) * 100.0 + 1.0) }
    val rows =
      nat.zipWithIndex.map { case (v, i) =>
        (1000L + i, ts(1, i), 1L, "nat", v, "") } ++
      (0 until 50).map(i => (2000L + i, ts(1, i), 2L, "fab", 555.0, "")) ++
      Seq((2100L, ts(1, 55), 2L, "fab", 0.0, "")) ++
      Seq((3000L, ts(2, 0), 3L, "tick", 1.0, "")) // advances watermark
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st16StreamBenford(spark, tmp).collect()
    val byType = out.map(r => r.getString(1) -> r).toMap
    val natR = byType("nat")
    assert(natR.getLong(2) == 100L && natR.getInt(5) == 0, natR.toString)
    assert(natR.getLong(4) < 1000000000L, s"conforming chi2 >= 1: $natR")
    val fab = byType("fab")
    assert(fab.getLong(2) == 50L && fab.getLong(3) == 1L, fab.toString)
    assert(fab.getInt(5) == 1 && fab.getInt(6) == 5, fab.toString)
    assert(!byType.contains("tick"), "unfired window must not emit")
  }

  test("st17 streaming Holt-Winters: recursion equals q67 on a gapless " +
      "series; a staleness gap restarts the ring") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("hw17").toString
    // 21 daily points of a period-7 pattern, then a 9-day gap, then 3
    // more — the gap must restart the segment (no forecast after it)
    def ts(d: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 12, 0).plusDays(d))
    val cycle = Seq(10.0, 40.0, 80.0, 120.0, 80.0, 40.0, 20.0)
    val rows = (0 until 21).map(i =>
      (i.toLong, ts(i), 1L, "p", cycle(i % 7), "")) ++
      (0 until 3).map(i => (100L + i, ts(30 + i), 1L, "p",
        cycle(i % 7), "")) // day 20 → 30: a 10-day gap
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val st = StreamingAnomaly.st17StreamHoltWinters(spark, tmp).collect()
    assert(st.length == 24)
    // the post-gap segment re-warms: its 3 rows all lack forecasts
    val postGap = st.filter(_.getLong(2) >= 100L)
    assert(postGap.length == 3 && postGap.forall(_.isNullAt(5)),
      postGap.mkString(";"))
    // on the gapless prefix the level/trend/ring recursion is q67's —
    // forecast, resid and season agree column-for-column (z differs:
    // prefix vs whole-series moments, by design)
    val q67 = graft.operators.SignalOps.q67HoltWinters(spark, tmp)
      .filter(col("event_id") < 21).collect()
      .map(r => r.getLong(2) -> r).toMap
    st.filter(_.getLong(2) < 21L).foreach { r =>
      val b = q67(r.getLong(2))
      assert(r.isNullAt(5) == b.isNullAt(5), s"$r vs $b")
      if (!r.isNullAt(5)) {
        assert(r.getDouble(5) == b.getDouble(5) &&
          r.getDouble(6) == b.getDouble(6) &&
          r.getDouble(7) == b.getDouble(7), s"$r vs $b")
      }
    }
  }

  test("st04 stream-stream interval join matches the batch formulation") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingAnomaly.st04StreamStreamJoin(spark, dir).count()
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("click_user"))
    val batch = purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .count()
    assert(streamed == batch && batch > 0,
      s"stream join $streamed vs batch $batch")
  }

  test("st05 stream-static join matches the batch join-aggregate") {
    val streamed = StreamingAnomaly.st05StreamStaticJoin(spark, dir).collect()
    val batch = Tables.events(spark, dir)
      .join(Tables.customer(spark, dir), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { r =>
      assert(batch((r.getString(0), r.getString(1))) == r.getLong(2))
    }
  }

  test("st02 under a hot key (100x skew): correct, independent, bounded") {
    // the §5 claim under test: state is sharded by key and keys
    // process independently, so one pathological ticker can make its
    // OWN partition long but cannot corrupt other keys' output
    import spark.implicits._
    import java.nio.file.Files
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mkRows(keys: Seq[(Long, String, Int)]) = keys.flatMap {
      case (uid, et, n) => (0 until n).map { i =>
        (uid * 100000L + i, new java.sql.Timestamp(base + i * 3600000L),
          uid, et, 100.0 + (i % 7) + (if (i % 97 == 0) 50.0 else 0.0), "")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // 28k rows both ways: skewed = 1 key with 100x the others' rows
    val hot = (1L, "hot", 20000)
    val cold = (2L to 41L).map(u => (u, "cold", 200))
    val skewDir = Files.createTempDirectory("skew_in").toString
    mkRows(hot +: cold).write.mode("overwrite").parquet(skewDir)
    val uniDir = Files.createTempDirectory("uni_in").toString
    mkRows((1L to 56L).map(u => (u, "uni", 500))).write
      .mode("overwrite").parquet(uniDir)
    def run(dir: String) = {
      val t0 = System.nanoTime()
      val rows = StreamingAnomaly.st02FromStream(spark,
        spark.readStream.schema(StreamingAnomaly.eventSchema).parquet(dir))
        .collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val (skewRows, tSkew) = run(skewDir)
    val (_, tUni) = run(uniDir)
    // correctness: every event emitted once, plus exactly one designed
    // eviction row (event_id = -1, stale flag) per cold key — the hot
    // key's 833-day span drives the watermark past their 8-day timeout
    assert(skewRows.count(_.getAs[Long]("event_id") != -1L) == 28000)
    assert(skewRows.count(_.getAs[Long]("event_id") == -1L) == 40)
    // ...and the hot key's rows are exactly what the same key produces
    // running alone (key independence)
    val hotMixed = skewRows.filter(_.getAs[Long]("user_id") == 1L)
      .map(_.toString).sorted
    val hotAloneDir = Files.createTempDirectory("hot_in").toString
    mkRows(Seq(hot)).write.mode("overwrite").parquet(hotAloneDir)
    val (hotAlone, _) = run(hotAloneDir)
    assert(hotMixed.sameElements(hotAlone.map(_.toString).sorted))
    // boundedness: the skewed run is the same work in one partition's
    // tail — allow generous noise but fail on super-linear blowup
    assert(tSkew < tUni * 4 + 5.0,
      s"skewed run $tSkew s vs uniform $tUni s — hot key blows up the batch")
  }

  test("st02 is deterministic across runs") {
    val a = StreamingAnomaly.st02StatefulFlags(spark, dir).collect()
    val b = StreamingAnomaly.st02StatefulFlags(spark, dir).collect()
    assert(a.sameElements(b))
  }

  test("stateful queries run identically on the RocksDB state store") {
    // the 100 TB state path: per-key state beyond executor heap lives
    // in RocksDB (spark.sql.streaming.stateStore.providerClass);
    // rocksdbjni ships with Spark, so this is a pure conf switch.
    // Output must be byte-identical to the default HDFS-backed store.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val queries = Seq[(String, () => Array[String])](
      "st02" -> (() => StreamingAnomaly.st02StatefulFlags(spark, dir)
        .collect().map(_.toString).sorted),
      "st09" -> (() => StreamingAnomaly.st09StreamHolt(spark, dir)
        .collect().map(_.toString).sorted))
    val hdfs = queries.map { case (n, f) => n -> f() }.toMap
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try queries.foreach { case (n, f) =>
      val rocks = f()
      assert(rocks.length == hdfs(n).length && rocks.sameElements(hdfs(n)), n)
    } finally spark.conf.unset(key)
  }

  test("st25 causal VR: warm-up NULLs, oscillation verdict, gap restart") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st25").toString
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:$m%02d:00")
    // 12 oscillating prints, then a 10-day gap, then 3 more prints
    val rows = (0 until 12).map(i =>
      (100L + i, ts(1, i), 7L, "vr", 10.0 + (i % 2), "")) ++
      (0 until 3).map(i =>
        (200L + i, ts(12, i), 7L, "vr", 20.0 + i, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st25StreamVr(spark, tmp).collect()
      .map(r => r.getLong(2) -> r).toMap
    // vr6 needs two lag-4 diffs: events 0..4 have at most nq=1
    (100L to 104L).foreach(id => assert(out(id).isNullAt(5), out(id).toString))
    // settled oscillation: every 4-diff is 0 -> VR exactly 0, flag -1
    val last = out(111L)
    assert(last.getAs[Long]("vr6") == 0L &&
      last.getAs[Int]("vr_flag") == -1, last.toString)
    // the 10-day gap restarts the segment: statistics gone, NULL again
    (200L to 202L).foreach(id => assert(out(id).isNullAt(5), out(id).toString))
  }

  test("st31 causal ADF: warm-up NULLs, noise rejects the unit root " +
    "live, a walk does not, a gap restarts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st31").toString
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:$m%02d:00")
    var seed = 53L
    def lcg(): Double = {
      seed = (seed * 1103515245L + 12345L) % 2147483648L
      (seed % 201).toInt * 0.01 - 1.0
    }
    // user 7: 20 mean-reverting noise prints, a 10-day gap, 3 more;
    // user 8: a 20-print drifting walk (the drift keeps a short
    // sample path from rejecting by luck — Δy ≈ const, slope ≈ 0)
    val noise = (0 until 20).map(_ => 10.0 + lcg())
    val walk = Iterator.iterate(10.0)(_ + 0.6 + lcg()).take(20).toVector
    val rows = (0 until 20).map(i =>
      (100L + i, ts(1, i), 7L, "adf", noise(i), "")) ++
      (0 until 3).map(i => (200L + i, ts(12, i), 7L, "adf", 10.0, "")) ++
      (0 until 20).map(i => (300L + i, ts(1, i), 8L, "adf", walk(i), ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st31StreamAdf(spark, tmp).collect()
      .map(r => r.getLong(2) -> r).toMap
    // warm-up: stats NULL until the 12th transition (event ids
    // 100..111 carry m = 0..11)
    (100L to 111L).foreach { id =>
      val r = out(id)
      assert(r.isNullAt(r.fieldIndex("adf_t6")) &&
        r.getAs[Int]("stationary_flag") == 0, r.toString)
    }
    // settled noise: ρ̂ ≈ -1, t far below the -2.86 bar
    val last = out(119L)
    assert(last.getAs[Long]("n_trans") == 19L &&
      last.getAs[Long]("adf_t6") < -2860000L &&
      last.getAs[Int]("stationary_flag") == 1, last.toString)
    assert(math.abs(last.getAs[Long]("rho6") + 1000000L) < 400000L,
      last.toString)
    // the walk never rejects the unit root
    val rw = out(319L)
    assert(rw.getAs[Long]("n_trans") == 19L &&
      rw.getAs[Int]("stationary_flag") == 0, rw.toString)
    // the 10-day gap restarts the segment: statistics gone, NULL again
    (200L to 202L).foreach { id =>
      val r = out(id)
      assert(r.isNullAt(r.fieldIndex("adf_t6")), r.toString)
    }
  }

  test("st27 live ensemble: flat stream stays silent, a spike trips " +
    "z + Hampel but not CUSUM, a gap restarts every detector") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st27").toString
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:$m%02d:00")
    // 10 flat prints, a single 5x spike, a 10-day gap, 2 flat prints
    val rows = (0 until 10).map(i =>
      (100L + i, ts(1, i), 7L, "en", 10.0, "")) ++
      Seq((110L, ts(1, 10), 7L, "en", 50.0, "")) ++
      (0 until 2).map(i => (200L + i, ts(12, i), 7L, "en", 20.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st27StreamEnsemble(spark, tmp).collect()
      .map(r => r.getLong(2) -> r).toMap
    assert(out.size == 13)
    // flat prefix: zero variance -> all three detectors quiet
    (100L to 109L).foreach { id =>
      val r = out(id)
      assert(r.getAs[Int]("votes") == 0 &&
        r.getAs[Int]("ensemble_flag") == 0, r.toString)
    }
    // spike: causal z = (500000-136364)/sd ~ 3.01 sigma -> z_flag;
    // Hampel: ring median 10.0, MAD 0, dev > 0 -> hampel_flag;
    // CUSUM: one step of z-k ~ 2.5e6 < h -> still quiet. 2-of-3 pages.
    val sp = out(110L)
    assert(sp.getAs[Int]("z_flag") == 1 &&
      sp.getAs[Int]("hampel_flag") == 1 &&
      sp.getAs[Int]("cusum_flag") == 0 &&
      sp.getAs[Int]("votes") == 2 &&
      sp.getAs[Int]("ensemble_flag") == 1, sp.toString)
    // post-gap: every baseline restarted -> quiet again
    (200L to 201L).foreach { id =>
      val r = out(id)
      assert(r.getAs[Int]("votes") == 0 &&
        r.getAs[Double]("zscore6") == 0.0, r.toString)
    }
  }

  test("st26 live TWAP: day closes at the watermark with q96's exact " +
    "weights") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st26").toString
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "tw",
        10.0, ""),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 7L, "tw",
        20.0, ""),
      // next-day print drags the watermark past day 1's end
      (3L, java.sql.Timestamp.valueOf("2024-01-03 12:00:00"), 7L, "tw",
        99.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st26StreamTwap(spark, tmp).collect()
    // only day 1 is closed; its TWAP is the exact half-half mix
    assert(out.length == 1, out.toSeq.toString)
    assert(out.head.getAs[Long]("n_prints") == 2L &&
      out.head.getAs[Long]("twap4") == 150000L &&
      out.head.getAs[Double]("twap") == 15.0, out.head.toString)
    assert(out.head.getAs[java.sql.Timestamp]("win_start") ==
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  test("st24 temporal SCD2 lookup enriches each event with its as-of " +
    "version") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st24").toString
    // customer 1: status O until 01-10, F after (two SCD2 versions)
    Seq((1L, 100L, java.sql.Date.valueOf("2024-01-01"), "O", "1-URGENT"),
      (1L, 101L, java.sql.Date.valueOf("2024-01-05"), "O", "1-URGENT"),
      (1L, 102L, java.sql.Date.valueOf("2024-01-10"), "F", "1-URGENT"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq(
      // before any version: dropped
      (1L, java.sql.Timestamp.valueOf("2023-12-25 08:00:00"), 1L, "v", 1.0,
        ""),
      // inside version 1's half-open interval
      (2L, java.sql.Timestamp.valueOf("2024-01-05 09:00:00"), 1L, "v", 1.0,
        ""),
      // ON the change day: the NEW version owns it (half-open)
      (3L, java.sql.Timestamp.valueOf("2024-01-10 00:30:00"), 1L, "v", 1.0,
        ""),
      // unknown customer: dropped
      (4L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 9L, "v", 1.0,
        ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st24StreamScd2(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(2L, 3L), out.toString)
    assert(out(2L).getAs[Int]("version") == 1 &&
      out(2L).getAs[String]("status") == "O", out(2L).toString)
    assert(out(3L).getAs[Int]("version") == 2 &&
      out(3L).getAs[String]("status") == "F", out(3L).toString)
  }
  test("st28 live MACD: flat stream is zero, a step up crosses bullish " +
    "with the exact dyadic recursion, a gap restarts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st28").toString
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:$m%02d:00")
    // 5 flat prints at 10, 5 at 20, a 10-day gap, 2 flat prints
    val vals = Seq.fill(5)(10.0) ++ Seq.fill(5)(20.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (100L + i, ts(1, i), 7L, "md", v, "")
    } ++ (0 until 2).map(i => (200L + i, ts(12, i), 7L, "md", 30.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st28StreamMacd(spark, tmp).collect()
      .map(r => r.getLong(2) -> r).toMap
    assert(out.size == 12)
    // replicate the recursion on the quantized longs
    var lf = 100000L; var ls = 100000L; var g = 0L; var prevH = 0L
    val expect = vals.tail.map { v =>
      val vl = math.floor(v * 10000.0 + 0.5).toLong
      lf = math.floor((vl + lf) / 2.0).toLong
      ls = math.floor((vl + 7.0 * ls) / 8.0).toLong
      val macd = lf - ls
      g = math.floor((macd + 3.0 * g) / 4.0).toLong
      val hist = macd - g
      val cross = if (hist > 0 && prevH <= 0) 1
        else if (hist < 0 && prevH >= 0) -1 else 0
      prevH = hist
      (macd, g, hist, cross)
    }
    // warm-up row
    assert(out(100L).getAs[Long]("macd4") == 0L &&
      out(100L).getAs[Int]("cross_flag") == 0)
    expect.zipWithIndex.foreach { case ((m, sg, h, c), i) =>
      val r = out(101L + i)
      assert(r.getAs[Long]("macd4") == m && r.getAs[Long]("signal4") == sg &&
        r.getAs[Long]("hist4") == h && r.getAs[Int]("cross_flag") == c,
        s"row ${101 + i}: $r vs ($m,$sg,$h,$c)")
    }
    // the step produced exactly one bullish cross
    assert(expect.count(_._4 == 1) == 1)
    // the 10-day gap restarts: warm-up again, macd back to 0
    assert(out(200L).getAs[Long]("macd4") == 0L &&
      out(200L).getAs[Int]("cross_flag") == 0)
  }
  test("st29 rare transition: the once-walked path pages, the habitual " +
    "one does not, gaps close no transition") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("st29").toString
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:$m%02d:00")
    // 22 A/B alternations, one B->C detour, then a 10-day gap + 1 print
    val types = (0 until 22).map(i => if (i % 2 == 0) "A" else "B") ++
      Seq("C")
    val rows = types.zipWithIndex.map { case (t, i) =>
      (100L + i, ts(1, i), 7L, t, 1.0, "")
    } :+ ((900L, ts(12, 0), 7L, "A", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st29StreamRareTransition(spark, tmp)
      .collect()
    // 22 transitions close; the post-gap print closes none
    assert(out.length == 22, out.length.toString)
    assert(!out.exists(_.getAs[Long]("event_id") == 900L))
    val rare = out.filter(_.getAs[Int]("rare_flag") == 1)
    assert(rare.length == 1 &&
      rare.head.getAs[String]("from_type") == "B" &&
      rare.head.getAs[String]("to_type") == "C", rare.toSeq.toString)
    // B-total = 11 -> p6(B->C) = 90909 < the 10% bar
    assert(rare.head.getAs[Long]("p6") == 90909L)
    out.filter(_.getAs[Int]("rare_flag") == 0).foreach { r =>
      assert(r.getAs[Long]("p6") >= 100000L, r.toString)
    }
  }

  test("st30 incidents: a closed run emits once with its shape, the " +
    "open tail run does not, a staleness gap closes") {
    import spark.implicits._
    val cfg = graft.operators.AnomalyConfig(dataPeriods = 28,
      stddevLim = 2.5, repLim = 2)
    def ts(d: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:$m%02d:00")
    def write(rows: Seq[(Long, Long, java.sql.Timestamp, Double)]): String = {
      val tmp = java.nio.file.Files.createTempDirectory("st30").toString
      rows.map { case (u, e, t, v) => (e, t, u, "x", v, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      tmp
    }
    // run A: varied baseline, a 2-print repetition run CLOSED by a
    // clean print, then a trailing repetition run left OPEN at the
    // watermark frontier
    val valsA = Seq(10.0, 11.0, 10.2, 11.4, 11.4, 11.4, 12.0,
      13.0, 13.0, 13.0)
    val a = StreamingAnomaly.st30StreamIncidents(spark,
      write(valsA.zipWithIndex.map { case (v, i) =>
        (1L, i.toLong, ts(1, i), v)
      }), cfg).collect()
    assert(a.length == 1, a.toSeq.toString)
    val inc = a.head
    assert(inc.getAs[java.sql.Timestamp]("start_ts") == ts(1, 4) &&
      inc.getAs[java.sql.Timestamp]("end_ts") == ts(1, 5) &&
      inc.getAs[Long]("duration_us") == 60000000L &&
      inc.getAs[Long]("n_events") == 2L &&
      inc.getAs[Long]("n_rep") == 2L &&
      inc.getAs[Long]("n_sd") == 0L &&
      inc.getAs[Double]("peak_z") < 2.5, inc.toString)
    // run B: the repetition run is closed by the STALENESS GAP, not
    // by a clean print — the segment break emits it
    val b = StreamingAnomaly.st30StreamIncidents(spark,
      write(Seq(
        (2L, 0L, ts(1, 0), 10.0), (2L, 1L, ts(1, 1), 11.0),
        (2L, 2L, ts(1, 2), 10.2), (2L, 3L, ts(1, 3), 11.4),
        (2L, 4L, ts(1, 4), 11.4),
        (2L, 5L, ts(11, 0), 20.0), (2L, 6L, ts(11, 1), 21.0))), cfg)
      .collect()
    assert(b.length == 1, b.toSeq.toString)
    assert(b.head.getAs[java.sql.Timestamp]("start_ts") == ts(1, 4) &&
      b.head.getAs[Long]("n_events") == 1L &&
      b.head.getAs[Long]("duration_us") == 0L, b.head.toString)
  }

  test("st32 streaming turning points: an alternator confirms every " +
      "interior turn, a gap restarts the count, multi-batch matches") {
    import spark.implicits._
    def t(day: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:$m%02d:00")
    // ticker 1: 20-print alternator; ticker 2: 5 prints, a 9-day gap,
    // then 3 more prints — the count must restart at 1
    val alt = (0 until 20).map(i =>
      (1L, "x", i.toLong, t(1, i), 10.0 + (if (i % 2 == 0) 1.0 else -1.0)))
    val gap = (0 until 5).map(i =>
      (2L, "x", 100L + i, t(1, i), 10.0 + i)) ++
      (0 until 3).map(i => (2L, "x", 200L + i, t(11, i), 10.0 + i))
    val tmp = java.nio.file.Files.createTempDirectory("st32spec").toString
    (alt ++ gap).toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st32StreamTurningPoints(spark, tmp)
      .collect()
    val a = out.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(a.length == 20)
    // after print n the confirmed turns are n-2 (every interior print)
    a.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("n_obs") == i + 1 &&
        r.getAs[Long]("n_turns") == math.max(0, i - 1), s"row $i: $r")
      if (i + 1 < 8) assert(r.isNullAt(r.fieldIndex("tp_z6")), r.toString)
      else {
        val n = i + 1L; val turns = i - 1L
        val z = (3 * turns - 2 * n + 4).toDouble /
          (3.0 * math.sqrt((16 * n - 29).toDouble / 90.0))
        assert(r.getAs[Long]("tp_z6") ==
          math.floor(z * 1e6 + 0.5).toLong, s"row $i: $r vs $z")
      }
    }
    assert(a.last.getAs[Int]("nonrandom_flag") == 1, a.last.toString)
    val g = out.filter(_.getAs[Long]("user_id") == 2L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(g.length == 8)
    assert(g(4).getAs[Long]("n_obs") == 5L, g(4).toString)
    assert(g(5).getAs[Long]("n_obs") == 1L &&
      g(5).getAs[Long]("n_turns") == 0L, g(5).toString) // restarted
    // batch boundaries don't perturb the turn state
    val multi = StreamingAnomaly.st32FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st32StreamTurningPoints(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.nonEmpty)
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st33 streaming drawdown: peak/drawdown/run replay a planted " +
      "path exactly, a gap resets the peak, multi-batch matches") {
    import spark.implicits._
    def t(day: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:$m%02d:00")
    val path = Seq(10.0, 12.0, 11.0, 9.0, 13.0, 8.0)
    val rows = path.zipWithIndex.map { case (v, i) =>
      (1L, "x", i.toLong, t(1, i), v)
    } ++ Seq((2L, "x", 100L, t(1, 0), 50.0), (2L, "x", 101L, t(11, 0), 5.0))
    val tmp = java.nio.file.Files.createTempDirectory("st33spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st33StreamDrawdown(spark, tmp).collect()
    val a = out.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    val expPeak = Seq(10.0, 12.0, 12.0, 12.0, 13.0, 13.0)
    val expDd = Seq(0.0, 0.0, 1.0, 3.0, 0.0, 5.0)
    val expRun = Seq(0L, 0L, 1L, 2L, 0L, 1L)
    val expMax = Seq(0.0, 0.0, 1.0, 3.0, 3.0, 5.0)
    a.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("peak") == expPeak(i) &&
        r.getAs[Double]("drawdown") == expDd(i) &&
        r.getAs[Long]("underwater_run") == expRun(i) &&
        r.getAs[Double]("max_drawdown") == expMax(i), s"row $i: $r")
    }
    // frac at the last print: 5/13 of peak, exact integer div on the grid
    assert(a.last.getAs[Long]("dd_frac6") ==
      50000L * 1000000L / 130000L, a.last.toString)
    // the 9-day gap resets the peak: the 5.0 print shows no drawdown
    val g = out.filter(_.getAs[Long]("user_id") == 2L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(g.length == 2 && g(1).getAs[Double]("peak") == 5.0 &&
      g(1).getAs[Double]("drawdown") == 0.0, g.mkString(","))
    // batch boundaries don't perturb the peak + run state
    val multi = StreamingAnomaly.st33FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st33StreamDrawdown(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st34 streaming burstiness: a steady clock scores -1/3 with " +
      "exact prefix moments, bursty batching flags, a gap emits nothing") {
    import spark.implicits._
    def t(day: Int, h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:$m%02d:00")
    // ticker 1: perfectly periodic prints (sd = 0, B = -1); ticker 2:
    // two tight bursts a day apart (huge sd vs mean, B > 0.3);
    // ticker 3: 3 prints, a 9-day gap, then 2 more
    val steady = (0 until 12).map(i => (1L, "x", i.toLong, t(1, 10, i)))
    val bursts = (0 until 6).map(i => (2L, "x", 100L + i, t(1, 10, i))) ++
      (0 until 6).map(i => (2L, "x", 200L + i, t(2, 10, i)))
    val gappy = (0 until 3).map(i => (3L, "x", 300L + i, t(1, 10, i))) ++
      (0 until 2).map(i => (3L, "x", 400L + i, t(11, 10, i)))
    val rows = (steady ++ bursts ++ gappy).map { case (u, e, id, ts) =>
      (u, e, id, ts, 10.0)
    }
    val tmp = java.nio.file.Files.createTempDirectory("st34spec").toString
    rows.toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st34StreamBurstiness(spark, tmp).collect()
    val a = out.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(a.length == 11) // first print emits nothing
    val last = a.last
    // constant 60s gaps: mean = 6e7 us, sd = 0, cv = 0, B = -1
    assert(last.getAs[Long]("n_gaps") == 11L &&
      last.getAs[Long]("mean_gap_us") == 60000000L &&
      last.getAs[Long]("sd_gap_us") == 0L &&
      last.getAs[Long]("cv6") == 0L &&
      last.getAs[Long]("burstiness6") == -1000000L &&
      last.getAs[Int]("bursty_flag") == 0, last.toString)
    // warm-up: sd/cv/B null until the 4th gap
    assert(a(2).isNullAt(a(2).fieldIndex("sd_gap_us")), a(2).toString)
    assert(!a(3).isNullAt(a(3).fieldIndex("sd_gap_us")), a(3).toString)
    val b = out.filter(_.getAs[Long]("user_id") == 2L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(b.last.getAs[Int]("bursty_flag") == 1 &&
      b.last.getAs[Long]("burstiness6") > 300000L, b.last.toString)
    val g = out.filter(_.getAs[Long]("user_id") == 3L)
      .sortBy(_.getAs[Long]("event_id"))
    // 2 gaps before the break, 1 after — the 9-day gap itself is mute
    assert(g.length == 3 &&
      g.map(_.getAs[Long]("event_id")).toSeq == Seq(301L, 302L, 401L) &&
      g.last.getAs[Long]("n_gaps") == 1L, g.mkString(","))
    // batch boundaries don't perturb the gap-moment state
    val multi = StreamingAnomaly.st34FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st34StreamBurstiness(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.nonEmpty)
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st35 live flap suppression: a repetition-driven toggler is " +
      "declared flapping at flip 6 and its later alerts suppress, a " +
      "steady mover never flaps, multi-batch matches") {
    import spark.implicits._
    def t(m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // pairs 10,10,12,12,10,10,... : 2nd of each pair trips the
    // repetition run, the pair boundary clears it — verdict toggles
    // every print
    val flap = (0 until 20).map(i =>
      (1L, "x", i.toLong, t(i), if ((i / 2) % 2 == 0) 10.0 else 12.0))
    val calm = (0 until 20).map(i =>
      (2L, "x", 100L + i, t(i), if (i % 2 == 0) 10.2 else 9.8))
    val tmp = java.nio.file.Files.createTempDirectory("st35spec").toString
    (flap ++ calm).toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st35StreamFlap(spark, tmp).collect()
    val a = out.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(a.length == 20)
    a.zipWithIndex.foreach { case (r, i) =>
      val verdict = if (i == 0) 0 else if (i % 2 == 1) 1 else 0
      assert(r.getAs[Int]("anomaly") == verdict, s"row $i: $r")
      assert(r.getAs[Long]("n_flips") == math.max(0, i.toLong),
        s"row $i: $r") // every print from the 2nd flips
    }
    assert(a(5).getAs[Int]("flapping_flag") == 0, a(5).toString) // 5 flips
    assert(a(6).getAs[Int]("flapping_flag") == 1 &&
      a(6).getAs[Int]("suppressed_flag") == 0, a(6).toString) // clean print
    assert(a(7).getAs[Int]("suppressed_flag") == 1, a(7).toString)
    assert(a.last.getAs[Long]("flip_rate6") == 1000000L &&
      a.last.getAs[Int]("suppressed_flag") == 1, a.last.toString)
    val c = out.filter(_.getAs[Long]("user_id") == 2L)
    assert(c.forall(r => r.getAs[Int]("anomaly") == 0 &&
      r.getAs[Int]("flapping_flag") == 0), c.mkString(","))
    // batch boundaries don't perturb the verdict + flap state
    val multi = StreamingAnomaly.st35FromStream(spark, slicedStream(),
      graft.operators.AnomalyConfig(dataPeriods = 28, stddevLim = 2.5,
        repLim = 2))
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st35StreamFlap(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.nonEmpty)
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st36 live extremes: a fat finger trips the envelope G and the " +
      "whole chain replays exactly, a gap resets the envelope, " +
      "multi-batch matches") {
    import spark.implicits._
    def t(day: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:$m%02d:00")
    val vals = Seq.fill(10)(10.0) ++ Seq(50.0) ++ Seq.fill(9)(10.0)
    val a = vals.zipWithIndex.map { case (v, i) =>
      (1L, "x", i.toLong, t(1, i), v) }
    val g = Seq((2L, "x", 100L, t(1, 0), 10.0),
      (2L, "x", 101L, t(1, 1), 20.0),
      (2L, "x", 200L, t(11, 0), 30.0), (2L, "x", 201L, t(11, 1), 40.0))
    val tmp = java.nio.file.Files.createTempDirectory("st36spec").toString
    (a ++ g).toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st36StreamExtremes(spark, tmp).collect()
    val rows = out.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    // exact replay of the envelope chain
    var n = 0L; var s1 = 0L; var s2 = BigInt(0)
    var mn = Long.MaxValue; var mx = Long.MinValue
    vals.zipWithIndex.foreach { case (v, i) =>
      val y = math.floor(v * 10000.0 + 0.5).toLong
      n += 1; s1 += y; s2 += BigInt(y) * BigInt(y)
      mn = math.min(mn, y); mx = math.max(mx, y)
      val m2 = BigInt(n) * s2 - BigInt(s1) * BigInt(s1)
      val maxdev = (BigInt(n) * mx - BigInt(s1))
        .max(BigInt(s1) - BigInt(n) * mn)
      val r = rows(i)
      if (n >= 3 && m2 > 0) {
        val exp = math.floor(maxdev.toDouble /
          math.sqrt(m2.toDouble * n / (n - 1)) * 1e6 + 0.5).toLong
        assert(r.getAs[Long]("g6") == exp, s"row $i: $r vs $exp")
      } else assert(r.isNullAt(r.fieldIndex("g6")), s"row $i: $r")
    }
    // the constant prefix is NULL, the spike flags and the envelope
    // keeps it flagged to the end
    assert(rows(9).getAs[Int]("extreme_flag") == 0, rows(9).toString)
    assert(rows(10).getAs[Int]("extreme_flag") == 1 &&
      rows(10).getAs[Double]("run_max") == 50.0, rows(10).toString)
    assert(rows.last.getAs[Int]("extreme_flag") == 1, rows.last.toString)
    // the 9-day gap resets the envelope
    val gp = out.filter(_.getAs[Long]("user_id") == 2L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(gp(2).getAs[Long]("n_obs") == 1L &&
      gp(2).getAs[Double]("run_min") == 30.0, gp(2).toString)
    assert(gp(3).getAs[Double]("run_max") == 40.0 &&
      gp(3).getAs[Double]("run_min") == 30.0, gp(3).toString)
    // batch boundaries don't perturb the envelope state
    val multi = StreamingAnomaly.st36FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st36StreamExtremes(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.nonEmpty)
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st37 live MASE: a steady trend beats naive with the exact " +
      "running ratio replayed, a gap resets the backtest, " +
      "multi-batch matches") {
    import spark.implicits._
    def t(day: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:$m%02d:00")
    // clean unit-step trend: Holt locks onto the slope, the naive
    // error stays one step — running MASE sinks below 1
    val vals = (0 until 20).map(i => 100.0 + i)
    val a = vals.zipWithIndex.map { case (v, i) =>
      (1L, "x", i.toLong, t(1, i), v) }
    val g = Seq((2L, "x", 100L, t(1, 0), 10.0),
      (2L, "x", 101L, t(1, 1), 20.0),
      (2L, "x", 200L, t(11, 0), 30.0), (2L, "x", 201L, t(11, 1), 40.0))
    val tmp = java.nio.file.Files.createTempDirectory("st37spec").toString
    (a ++ g).toDF("user_id", "event_type", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = StreamingAnomaly.st37StreamMase(spark, tmp).collect()
    val rows = out.filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Long]("event_id"))
    // exact replay of the seven-long state
    val ys = vals.map(v => math.floor(v * 10000.0 + 0.5).toLong)
    var l = ys.head; var b = 0L
    var prev = ys.head; var sae = 0L; var san = 0L
    assert(rows.head.isNullAt(rows.head.fieldIndex("mase6")) &&
      rows.head.getAs[Long]("n_scored") == 0L, rows.head.toString)
    ys.zipWithIndex.drop(1).foreach { case (y, i) =>
      val err = y - (l + b)
      sae += math.abs(err); san += math.abs(y - prev); prev = y
      val exp = math.floor(sae.toDouble / san.toDouble * 1e6 + 0.5).toLong
      val r = rows(i)
      assert(r.getAs[Long]("mase6") == exp &&
        r.getAs[Long]("n_scored") == i.toLong, s"row $i: $r vs $exp")
      val l2 = math.floor((y + l + b) / 2.0).toLong
      b = math.floor((l2 - l + 3.0 * b) / 4.0).toLong; l = l2
    }
    // first scored print ties naive (MASE = 1, no flag); the tail
    // beats it decisively
    assert(rows(1).getAs[Long]("mase6") == 1000000L &&
      rows(1).getAs[Int]("beats_naive_flag") == 0, rows(1).toString)
    assert(rows.last.getAs[Long]("mase6") < 1000000L &&
      rows.last.getAs[Int]("beats_naive_flag") == 1, rows.last.toString)
    // the 9-day gap restarts the backtest segment
    val gp = out.filter(_.getAs[Long]("user_id") == 2L)
      .sortBy(_.getAs[Long]("event_id"))
    assert(gp(2).getAs[Long]("n_scored") == 0L &&
      gp(2).isNullAt(gp(2).fieldIndex("mase6")), gp(2).toString)
    assert(gp(3).getAs[Long]("n_scored") == 1L, gp(3).toString)
    // batch boundaries don't perturb the seven-long state
    val multi = StreamingAnomaly.st37FromStream(spark, slicedStream())
      .collect().map(_.toString).sorted
    val single = StreamingAnomaly.st37StreamMase(spark, dir)
      .collect().map(_.toString).sorted
    assert(multi.nonEmpty)
    assert(multi.length == single.length && multi.sameElements(single))
  }

  test("st40 vector admission: the live encode equals the frozen-bank " +
    "batch encode, and kill-and-restart resumes exactly-once") {
    import java.nio.file.Files
    import graft.streaming.StreamingCorpus
    val embSchema = Tables.embeddings(spark, dir).schema
    // the encode transform applied in BATCH is the ground truth — a
    // pure function of the frozen banks, so stream and batch must
    // agree row-for-row
    val arrivals = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 7)
    val expected = StreamingCorpus.st40Encode(spark, dir, arrivals)
      .collect().map(_.toString).sorted
    assert(expected.nonEmpty && expected.length % 8 == 0,
      "8 code rows per admitted vector")
    val live = StreamingCorpus.st40StreamVectorAdmit(spark, dir)
      .collect().map(_.toString).sorted
    assert(live.sameElements(expected), "live encode != batch encode")
    // kill-and-restart: slice the arrivals into two files, run the
    // file sink over the first, then resume the SAME checkpoint after
    // the second lands — offsets skip the committed file and the sink
    // log keeps exactly-once, so the union equals one straight run
    val ids = arrivals.select("vec_id").collect().map(_.getLong(0)).sorted
    val half = ids(ids.length / 2)
    val inDir = Files.createTempDirectory("st40_restart_in").toFile
    val cp = Files.createTempDirectory("st40_restart_cp").toString
    val outPath =
      Files.createTempDirectory("st40_restart_out").toString + "/out"
    def addSlice(nm: String, pred: org.apache.spark.sql.Column): Unit = {
      val tmp = Files.createTempDirectory(s"st40_sl_$nm").toString
      arrivals.filter(pred).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath,
        new java.io.File(inDir, s"$nm.parquet").toPath)
    }
    def stream() = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.getAbsolutePath)
    addSlice("a", col("vec_id") < half)
    StreamingCorpus.st40ToFileSink(spark, dir, stream(), outPath, cp)
    val out1 = spark.read.parquet(outPath).collect().map(_.toString)
    assert(out1.nonEmpty)
    addSlice("b", col("vec_id") >= half)
    StreamingCorpus.st40ToFileSink(spark, dir, stream(), outPath, cp)
    val resumed = spark.read.parquet(outPath).collect()
      .map(_.toString).sorted
    assert(resumed.length > out1.length, "restart must process new slices")
    assert(resumed.sameElements(expected),
      s"resumed ${resumed.length} rows != batch ${expected.length}")
  }
}
