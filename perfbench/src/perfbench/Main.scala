package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.etl.{CsvExport, MergeTreeWriter, RawCsvSource, SnapshotStore, TaxiGen, TripsTransform}
import graft.operators.{MergeInto, RowLevelOps}
import graft.util.{Checkpoints, Fs}

/** The measuring side of the benchmark. One JVM runs one workload for
  * one seed: set-up (timed, repeated), warm-up where the workload has
  * one, then closed-loop cycles of the workload's operations until the
  * measured time is used up. It writes every sample, every result the
  * checks need, and — when traced — each operation's spans and Spark
  * counts to the output file.
  *
  * Usage: Main <plan.json> <out.json>. The plan (written by run.py)
  * names the workload, seed, seconds, trace flag, core count, set-up
  * repetitions, and the input and scratch directories.
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Main <plan.json> <out.json>")
    implicit val formats: Formats = DefaultFormats
    val plan = JsonMethods.parse(Files.readString(Paths.get(args(0))))
    val cores = (plan \ "cores").extract[Int]
    val work = (plan \ "work").extract[String]
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.snap",
        classOf[graft.sources.GraftSnapshotCatalog].getName)
      .config("spark.sql.catalog.snap.warehouse", s"$work/snap")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = try {
      new Run(spark,
        workload = (plan \ "workload").extract[String],
        seed = (plan \ "seed").extract[Long],
        seconds = (plan \ "seconds").extract[Double],
        traced = (plan \ "trace").extract[Int] == 1,
        setupReps = (plan \ "setup_reps").extract[Int],
        inputs = (plan \ "inputs").extract[String], work = work).execute()
    } finally spark.stop()
    Files.writeString(Paths.get(args(1)), JsonMethods.compact(out))
  }
}

/** One run: the workload's set-up, its operations, and the bookkeeping.
  * Each operation is one call (or short chain of calls) into the
  * engine's public API, timed from outside. */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, traced: Boolean, setupReps: Int, inputs: String,
    work: String) {

  private val trace = new Trace(spark)
  private val ops = mutable.ArrayBuffer.empty[JObject]
  private val results = mutable.LinkedHashMap.empty[String, JValue]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  private val PartCol = "pickup_month"
  private val SortCol = "pickup_datetime"
  private val mergeTreePath = s"$work/mergetree/trips"
  private val snapRoot = s"$work/snap/trips"
  private val laneDir = s"$work/lanes"

  private def input(rel: String): DataFrame =
    spark.read.parquet(s"$inputs/$rel")
  private def trips(lineitem: DataFrame): DataFrame =
    TripsTransform(TaxiGen.fromLineitem(lineitem))
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- set-up ----------------------------------------------------------------

  /** Build the tables the workload reads from its generated inputs.
    * taxi_ingest_dml: the MergeTree-analogue trips table the reference
    * queries read, and the snapshot trips table the write path changes.
    * pipeline_iter: the lane tables, copied into the directory the lanes
    * read. */
  private def setup(): Double = {
    val t0 = System.nanoTime()
    workload match {
      case "taxi_ingest_dml" =>
        MergeTreeWriter.write(trips(input("lineitem.parquet")), mergeTreePath)
        MergeTreeWriter.read(spark, mergeTreePath)
          .createOrReplaceTempView("trips_mergetree")
        Fs.deleteRecursively(new java.io.File(s"$work/snap"))
        SnapshotStore.write(trips(input("snapshot_lineitem.parquet")),
          snapRoot, PartCol, SortCol)
      case "pipeline_iter" =>
        Seq("lineitem", "documents", "embeddings").foreach { t =>
          input(s"$t.parquet").coalesce(1).write.mode("overwrite")
            .parquet(s"$laneDir/$t.parquet")
        }
    }
    secondsSince(t0)
  }

  // ---- operations ------------------------------------------------------------

  /** Run one operation through the tracer and keep its record. A thrown
    * operation counts as failed and is reported. Returns the latency,
    * or None when the operation failed. */
  private def op(kind: String, measured: Boolean,
      extra: List[JField] = Nil)(f: => Unit): Option[Double] = {
    attempted += 1
    try {
      val (_, rec) = trace.op(kind)(f)
      ops += OpJson(kind, measured, rec, extra)
      Some(rec.seconds)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$kind: ${e.getClass.getName}: ${e.getMessage}"
        Run.log(s"$kind failed: $e")
        None
    }
  }

  private def rowsJson(rows: Seq[Row]): JValue =
    JArray(rows.sortBy(_.toString).toList.map { r =>
      JObject(r.schema.fieldNames.toList.zipWithIndex.map { case (n, i) =>
        n -> (r.get(i) match {
          case null => JNull
          case v: Long => JLong(v)
          case v: Int => JLong(v.toLong)
          case v: Short => JLong(v.toLong)
          case v: Byte => JLong(v.toLong)
          case v: Double => JDouble(v)
          case v: Float => JDouble(v.toDouble)
          case v: java.math.BigDecimal => JDouble(v.doubleValue)
          case v => JString(v.toString)
        })
      })
    })

  /** Keep the first result of a repeated, deterministic operation for
    * the oracle check; a repetition returning other rows is a failure. */
  private def keepResult(key: String, rows: Seq[Row]): Unit = {
    val js = rowsJson(rows)
    results.get(key) match {
      case None => results(key) = js
      case Some(prev) if prev != js =>
        failed += 1
        errors += s"$key: a repeated run returned different rows"
      case _ =>
    }
  }

  private def sqlRows(text: String): Seq[Row] = {
    val df = trace.child("spark.sql")(spark.sql(text))
    trace.child("plan")(df.queryExecution.executedPlan)
    trace.child("action")(df.collect().toSeq)
  }

  private val shipStart = java.time.LocalDate.of(1995, 1, 1)

  /** One-week pickup_date probe: count and exact amount sum. With
    * `monthPrune` the query also names the week's pickup_month values,
    * which the MergeTree table prunes partitions on. */
  private def weekSql(table: String, day: Int, monthPrune: Boolean): String = {
    val d1 = shipStart.plusDays(day.toLong)
    val d2 = d1.plusDays(6)
    val months = Seq(d1, d2)
      .map(d => f"'${d.getYear}-${d.getMonthValue}%02d'").distinct
      .mkString(", ")
    val prune = if (monthPrune) s"pickup_month IN ($months) AND " else ""
    "SELECT count(*) AS n, CAST(sum(CAST(total_amount AS BIGINT)) AS BIGINT) " +
      s"AS amt FROM $table WHERE ${prune}pickup_date BETWEEN DATE'$d1' " +
      s"AND DATE'$d2'"
  }

  // -- the reference's Q1-Q4 (BASELINE.md SQL with toYear → year and the
  // output aliases of the engine's own oracle) and a seeded one-week
  // range probe, read-only, over the MergeTree table.
  private val referenceSql: Seq[(String, String)] = Seq(
    "q1" -> ("SELECT cab_type, count(*) AS cnt FROM trips_mergetree " +
      "GROUP BY cab_type"),
    "q2" -> ("SELECT CAST(passenger_count AS BIGINT) AS pax, " +
      "CAST(SUM(CAST(total_amount AS BIGINT)) AS DOUBLE) / count(*) " +
      "AS avg_amount FROM trips_mergetree GROUP BY passenger_count"),
    "q3" -> ("SELECT CAST(passenger_count AS BIGINT) AS pax, " +
      "CAST(year(pickup_date) AS BIGINT) AS yr, count(*) AS cnt " +
      "FROM trips_mergetree GROUP BY passenger_count, yr"),
    "q4" -> ("SELECT CAST(passenger_count AS BIGINT) AS pax, " +
      "CAST(year(pickup_date) AS BIGINT) AS yr, round(trip_distance) " +
      "AS dist, count(*) AS cnt FROM trips_mergetree " +
      "GROUP BY passenger_count, yr, dist ORDER BY yr, cnt DESC"))

  private val probeDays = new scala.util.Random(seed)

  private def queryPass(measured: Boolean): Seq[Option[Double]] =
    referenceSql.map { case (name, text) =>
      op(name, measured)(keepResult(name, sqlRows(text)))
    } :+ {
      val day = probeDays.nextInt(7 * 365 - 7)
      op("mergetree_probe", measured, List("day" -> JLong(day))) {
        results(s"mergetree_probe/$day") = rowsJson(
          sqlRows(weekSql("trips_mergetree", day, monthPrune = true)))
      }
    }

  // -- pipeline_iter: the iterative training-data lanes from the engine's
  // lane registry. Build = the lane function returning (its eager pins
  // and collects included); action = collecting the result.
  private val laneNames = Seq("kmeans_train", "lr_train", "triangle_count")

  private def laneCycle(measured: Boolean): Seq[Option[Double]] =
    laneNames.map { name =>
      val t = op(name, measured) {
        val df = trace.child("build")(
          SparkEntry.allQueries(name)(spark, laneDir))
        keepResult(name, trace.child("action")(df.collect().toSeq))
      }
      // blocks still cached once the lane has returned are its leftover
      // pins; the release between lanes is untimed
      if (t.isDefined) annotate("pinned_blocks" -> JLong(spark.sparkContext
        .getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum))
      Checkpoints.releaseAllAndGc(spark)
      t
    }

  /** Add fields to the record of the operation that just finished. */
  private def annotate(fields: JField*): Unit =
    ops(ops.size - 1) = JObject(ops.last.obj ++ fields)

  // -- the snapshot-table write path users drive, one schedule step per
  // operation, with reads after the commits. A round runs from one
  // month-drop load to the next.
  private lazy val schedule: IndexedSeq[JValue] = {
    val JArray(steps) = JsonMethods.parse(
      Files.readString(Paths.get(s"$inputs/schedule.json")))
    steps.toIndexedSeq
  }
  private var nextStep = 0

  private def liveFiles(): Set[String] =
    SnapshotStore.current(snapRoot).toSeq.flatMap(_.entries).flatMap { e =>
      Option(new java.io.File(s"$snapRoot/${e.dir}").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    }.toSet

  private def dmlCycle(measured: Boolean): Seq[Option[Double]] = {
    val out = mutable.ArrayBuffer(dmlStep(measured))
    while (nextStep < schedule.size &&
        schedule(nextStep) \ "op" != JString("append"))
      out += dmlStep(measured)
    out.toSeq
  }

  private def dmlStep(measured: Boolean): Option[Double] = {
    require(nextStep < schedule.size, "the DML schedule is used up")
    val step = schedule(nextStep)
    val stepNo = nextStep
    nextStep += 1
    def int(k: String): Int = (step \ k) match {
      case JInt(v) => v.toInt
      case other => sys.error(s"schedule step $stepNo: bad $k: $other")
    }
    def str(k: String): String = (step \ k) match {
      case JString(v) => v
      case other => sys.error(s"schedule step $stepNo: bad $k: $other")
    }
    val JString(kind) = step \ "op"
    // untimed preparation: the CSV month drop lands, the MERGE changeset
    // is materialized, and the traced run notes the table before
    lazy val csv = s"$work/csv/drop_${int("drop")}"
    if (kind == "append")
      CsvExport.write(TaxiGen.fromLineitem(
        input(f"drops/drop_${int("drop")}%03d.parquet")), csv, shards = 1)
    val changes: Option[DataFrame] =
      if (kind != "merge") None
      else {
        val cur = SnapshotStore.read(spark, snapRoot)
          .filter(col("pickup_month") === str("month") &&
            pmod(col("trip_id"), lit(int("modulus").toLong)) === int("residue"))
          .withColumn("passenger_count",
            (col("passenger_count") + 1).cast("smallint"))
          .withColumn("deleteFlag", pmod(col("trip_id"), lit(2L)) === 0)
        val ins = trips(input(f"merge_inserts/slice_${int("slice")}%03d.parquet"))
          .withColumn("deleteFlag", lit(false))
        val all = cur.unionByName(ins)
        Some(spark.createDataFrame(
          java.util.Arrays.asList(all.collect(): _*), all.schema))
      }
    // traced runs note the table before a commit: live files, bytes on
    // disk, and the bytes of the rows the statement changes (rows ×
    // live bytes per live row), all untimed
    val commit = Set("append", "update", "delete", "merge", "rewrite")(kind)
    val before = if (!traced || !commit) None else {
      val files = liveFiles()
      val table = SnapshotStore.read(spark, snapRoot)
      val userRows = kind match {
        case "append" => input(f"drops/drop_${int("drop")}%03d.parquet").count()
        case "update" => table.filter(col("pickup_month") === str("month")).count()
        case "delete" => table.filter(pmod(col("trip_id"),
          lit(int("modulus").toLong)) === int("residue")).count()
        case "merge" => changes.get.count()
        case "rewrite" => 0L
      }
      val bytesPerRow = files.toSeq.map(f => new java.io.File(f).length).sum
        .toDouble / math.max(1L, table.count())
      Some((files, Fs.du(new java.io.File(snapRoot)),
        (userRows * bytesPerRow).toLong))
    }
    val t = op(s"dml.$kind", measured, List("step" -> JLong(stepNo))) {
      kind match {
        case "append" =>
          val raw = trace.child("RawCsvSource.read")(RawCsvSource.read(spark, csv))
          val df = trace.child("TripsTransform")(TripsTransform(raw))
          trace.child("SnapshotStore.appendPartitions")(
            SnapshotStore.appendPartitions(df, snapRoot, PartCol, SortCol))
        case "update" =>
          trace.child("RowLevelOps.updateCommit")(RowLevelOps.updateCommit(
            spark, snapRoot, col("pickup_month") === str("month"),
            Seq("total_amount" -> (col("total_amount") + 1.0f).cast("float")),
            PartCol, SortCol))
        case "delete" =>
          trace.child("RowLevelOps.deleteRowsCommit")(
            RowLevelOps.deleteRowsCommit(spark, snapRoot,
              pmod(col("trip_id"), lit(int("modulus").toLong)) === int("residue"),
              PartCol, SortCol))
        case "merge" =>
          trace.child("MergeInto.mergeCommit")(MergeInto.mergeCommit(
            spark, snapRoot, changes.get, "trip_id", "deleteFlag", PartCol,
            SortCol))
        case "snapshot_q1" =>
          trace.child("SnapshotStore.current")(SnapshotStore.current(snapRoot))
          val df = trace.child("SnapshotStore.read")(
            SnapshotStore.read(spark, snapRoot))
          results(s"dml/$stepNo") = rowsJson(trace.child("action")(
            df.groupBy("cab_type").agg(count(lit(1)).as("cnt")).collect().toSeq))
        case "range_probe" =>
          results(s"dml/$stepNo") = rowsJson(snapRange(int("day")))
        case "rewrite" =>
          val JArray(ms) = step \ "months"
          val months = ms.collect { case JString(m) => m }.toSet
          trace.child("SnapshotStore.rewriteDataFiles")(
            SnapshotStore.rewriteDataFiles(spark, snapRoot, where = months))
          trace.child("SnapshotStore.expire")(
            SnapshotStore.expire(snapRoot, keepLast = 4))
      }
    }
    if (t.isDefined) {
      before.foreach { case (files0, du0, userBytes) =>
        val files1 = liveFiles()
        annotate(
          "user_bytes" -> JLong(userBytes),
          "files_added" -> JLong((files1 -- files0).size.toLong),
          "files_removed" -> JLong((files0 -- files1).size.toLong),
          "bytes_written" ->
            JLong(math.max(0L, Fs.du(new java.io.File(snapRoot)) - du0)))
      }
      if (traced && kind == "snapshot_q1") annotate(
        "live_dirs" -> JLong(SnapshotStore.current(snapRoot)
          .map(_.entries.size.toLong).getOrElse(0L)),
        "live_files" -> JLong(liveFiles().size.toLong))
    }
    t
  }

  /** Stats-pruned one-week probe through the `snap` catalog. The traced
    * run also counts the files the scan planned against the live files. */
  private def snapRange(day: Int): Seq[Row] = {
    val df = trace.child("spark.sql")(
      spark.sql(weekSql("snap.trips", day, monthPrune = false)))
    trace.child("sources.plan")(df.queryExecution.sparkPlan)
    val rows = trace.child("action")(df.collect().toSeq)
    if (trace.tracing)
      probeFiles += ((ScanFiles.count(df.queryExecution.executedPlan),
        liveFiles().size.toLong))
    rows
  }
  private val probeFiles = mutable.ArrayBuffer.empty[(Long, Long)]

  /** The CSV month drops read back as no-op sinks: parse alone, then
    * parse + transform; and the capture-corrupt staging read's rejects. */
  private def etlPasses(): JValue = {
    val drops = Option(new java.io.File(s"$work/csv").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
      .map(_.getPath).sorted.toSeq
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      secondsSince(t0)
    }
    val parse = drops.map(d => noop(RawCsvSource.read(spark, d)))
    val transform =
      drops.map(d => noop(TripsTransform(RawCsvSource.read(spark, d))))
    // Spark refuses a raw-file query that reads only the corrupt-record
    // column; caching the staged rows first is its documented way round
    val rejected = drops.map { d =>
      val staged = RawCsvSource.readCaptureCorrupt(spark, d).cache()
      try staged.filter(col("_corrupt_record").isNotNull).count()
      finally staged.unpersist()
    }.sum
    JObject("parse_s" -> JArray(parse.map(JDouble(_)).toList),
      "transform_s" -> JArray(transform.map(JDouble(_)).toList),
      "rows_rejected" -> JLong(rejected))
  }

  /** Heap in use after full GCs, once it stops shrinking: releasing
    * blocks and cleaning dead broadcasts and shuffles happens on Spark's
    * own threads after a GC, so one GC is not enough to settle. */
  private def settledHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def gcUsedMb(): Double = {
      System.gc()
      Thread.sleep(300)
      bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = Double.MaxValue
    var cur = gcUsedMb()
    var i = 0
    while (i < 10 && prev - cur > 0.5) {
      prev = cur
      cur = gcUsedMb()
      i += 1
    }
    cur
  }

  // ---- the run ---------------------------------------------------------------

  def execute(): JValue = {
    val setupS = (1 to setupReps).map { i =>
      val s = setup()
      Run.log(f"set-up $i/$setupReps: $s%.2f s")
      s
    }
    // A taxi_ingest_dml cycle is one pass of the reference queries, then
    // one round of the write schedule. The queries are warmed by one
    // unmeasured pass, as the reference's repeated timing has warm code;
    // the write rounds and the lanes run as a batch job runs them, first
    // in a fresh JVM.
    val cycle: Boolean => Seq[Option[Double]] = workload match {
      case "pipeline_iter" => laneCycle
      case "taxi_ingest_dml" => m => queryPass(m) ++ dmlCycle(m)
    }
    if (workload == "taxi_ingest_dml") {
      val warm = queryPass(false)
      Run.log(f"query warm-up: ${warm.flatten.sum}%.2f s")
    }
    // Measured phase: whole cycles until `seconds` is used up.
    val cycles = mutable.ArrayBuffer.empty[Double]
    trace.setTracing(traced)
    val t0 = System.nanoTime()
    var i = 0
    while (secondsSince(t0) < seconds) {
      val lat = cycle(true)
      Run.log(s"cycle $i: " +
        lat.map(_.map(x => f"$x%.3f").getOrElse("failed")).mkString(" "))
      if (lat.forall(_.isDefined)) cycles += lat.flatten.sum
      i += 1
    }
    val measuredS = secondsSince(t0)
    trace.setTracing(false)
    val extra = mutable.ListBuffer.empty[JField]
    if (workload == "taxi_ingest_dml") {
      extra += "final_state" -> rowsJson(SnapshotStore.read(spark, snapRoot)
        .groupBy("pickup_month")
        .agg(count(lit(1)).as("n"), sum(col("trip_id")).as("ids"),
          sum(col("total_amount").cast("long")).as("amt"),
          sum(col("passenger_count").cast("long")).as("pax"))
        .collect().toSeq)
      extra += "steps_run" -> JLong(nextStep.toLong)
      if (traced) {
        extra += "etl" -> etlPasses()
        extra += "probe_files" -> JArray(probeFiles.toList.map { case (p, t) =>
          JObject("planned" -> JLong(p), "total" -> JLong(t)) })
        val live = liveFiles().toSeq.map(f => new java.io.File(f).length).sum
        extra += "space" -> JObject(
          "root_bytes" -> JLong(Fs.du(new java.io.File(snapRoot))),
          "live_bytes" -> JLong(live),
          "manifest_bytes" -> JLong(Files.size(Paths.get(snapRoot, "MANIFEST"))),
          "retained_snapshots" ->
            JLong(SnapshotStore.retainedSeqs(snapRoot).size.toLong))
      }
    }
    Checkpoints.releaseAll(spark)
    val heapMb = settledHeapMb()
    JObject(List[JField](
      "setup_s" -> JArray(setupS.map(JDouble(_)).toList),
      "measured_s" -> JDouble(measuredS),
      "cycles" -> JArray(cycles.map(JDouble(_)).toList),
      "ops" -> JArray(ops.toList),
      "results" -> JObject(results.toList),
      "oracle" -> JObject(Seq("taxi_e2e_q1", "taxi_e2e_q2", "taxi_e2e_q3",
        "taxi_e2e_q4", "kmeans_train", "lr_train", "triangle_count")
        .map(k => k -> JString(SparkEntry.oracleSql(k))).toList),
      "retained_heap_mb" -> JDouble(heapMb),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "errors" -> JArray(errors.map(JString(_)).toList),
      "spans" -> JArray(trace.spans.toList.map(s => JObject(
        "id" -> JLong(s.id), "parent" -> JLong(s.parent), "op" -> JLong(s.op),
        "name" -> JString(s.name), "start_ns" -> JLong(s.startNs),
        "end_ns" -> JLong(s.endNs))))) ++ extra)
  }
}

object Run {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Files an executed plan's scans read: the planned file partitions of
  * a V2 scan, the `numFiles` metric of a V1 file scan (the read path a
  * table with deletion vectors is rewritten to). */
object ScanFiles
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.datasources.FilePartition
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  def count(plan: SparkPlan): Long = collect(plan) {
    case b: BatchScanExec => b.inputPartitions.collect {
      case fp: FilePartition => fp.files.map(_.filePath.toString)
    }.flatten.distinct.size.toLong
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value)
      .getOrElse(0L)
  }.sum
}

/** The JSON record of one finished operation. */
object OpJson {
  def apply(kind: String, measured: Boolean, rec: OpRecord,
      extra: List[JField]): JObject = {
    val base = List[JField](
      "kind" -> JString(kind),
      "measured" -> JBool(measured),
      "seconds" -> JDouble(rec.seconds),
      "self_s" -> JDouble(rec.selfSeconds),
      "children" -> JObject(rec.children.groupBy(_.name).toList.map {
        case (n, ss) => n -> JDouble(ss.map(_.seconds).sum) }))
    val counts = rec.counts.toList.flatMap { c =>
      List[JField](
        "traced" -> JBool(true),
        "sql_executions" -> JLong(c.sqlExecutions), "jobs" -> JLong(c.jobs),
        "stages" -> JLong(c.stages), "tasks" -> JLong(c.tasks),
        "failed_tasks" -> JLong(c.failedTasks),
        "task_run_s" -> JDouble(c.taskRunMs / 1e3),
        "task_cpu_s" -> JDouble(c.taskCpuNs / 1e9),
        "gc_s" -> JDouble(c.gcMs / 1e3),
        "input_bytes" -> JLong(c.inputBytes),
        "input_records" -> JLong(c.inputRecords),
        "output_bytes" -> JLong(c.outputBytes),
        "shuffle_read_bytes" -> JLong(c.shuffleReadBytes),
        "shuffle_write_bytes" -> JLong(c.shuffleWriteBytes),
        "spill_bytes" -> JLong(c.spillBytes),
        "analysis_ms" -> JLong(c.analysisMs),
        "optimization_ms" -> JLong(c.optimizationMs),
        "planning_ms" -> JLong(c.planningMs),
        "driver_only_s" -> JDouble(rec.driverOnlySeconds.getOrElse(0.0)))
    }
    JObject(base ++ counts ++ extra)
  }
}
