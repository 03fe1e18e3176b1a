package graft.streaming

import java.math.RoundingMode
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, Trigger}
import graft.Tables._

/** State row for [[StreamingOps]]'s CEP pattern processors: pending
  * anchors plus the buffered pattern-relevant events of the live window
  * horizon. Stored as parallel primitive-array columns — logically
  * `anchors: Seq[(id, tsUs)]` and `events: Seq[(typeCode, tsUs,
  * eventId)]` split field-per-array — because `Array[Long]` serializes
  * via `UnsafeArrayData.fromPrimitiveArray` in generated code, whereas
  * a `Seq` of tuples inside an object-nested private case class made
  * Janino reject the generated encoder (a failed compile + interpreted
  * serde on EVERY state access). Top-level + flat primitive arrays
  * keeps the per-key hot path in codegen. */
private[streaming] case class AbcState(
    sId: Array[Long], sTs: Array[Long],
    eType: Array[Int], eTs: Array[Long], eId: Array[Long])

/** Value-carrying twin of [[AbcState]] for iterative-condition CEP
  * patterns (round-13 `followedByIf`): pending anchors carry the anchor
  * event's value (`sVal`), buffered events theirs (`eVal`), so sealed
  * windows can evaluate value predicates. Same flat-primitive-array
  * codegen rationale. */
private[streaming] case class AbcVState(
    sId: Array[Long], sTs: Array[Long], sVal: Array[Double],
    eType: Array[Int], eTs: Array[Long], eId: Array[Long],
    eVal: Array[Double])

/** State row for [[StreamingOps]]'s count-window processor: the events
  * of one user not yet evicted, as parallel primitive arrays (same
  * codegen rationale as [[AbcState]]), plus the count of windows
  * already emitted (keeps window indices contiguous across
  * micro-batches) and the count of events already evicted (`baseRank` —
  * a buffered event's global 1-based rank is baseRank + its sorted
  * position, so sliding windows that straddle an eviction boundary
  * still see correct ranks). Logically
  * `buf: Seq[(tsUs, eventId, valueMicro)]`. */
private[streaming] case class CountWinState(
    nEmitted: Long, baseRank: Long, timerAt: Long,
    ts: Array[Long], eid: Array[Long], vus: Array[Long])

/** State row for [[StreamingOps]]'s EWMA processor: the last ≤ 9 sealed
  * micro-unit values in rank order (the lag context every future event's
  * average needs — the WHOLE emitted history reduces to this) plus the
  * unsealed event buffer, as parallel primitive arrays (same codegen
  * rationale as [[AbcState]]). */
private[streaming] case class EwmaState(
    timerAt: Long, lagV: Array[Long],
    ts: Array[Long], eid: Array[Long], vus: Array[Long])

/** State row for [[StreamingOps]]'s transition processor: the last
  * sealed event's type code (−1 before any event seals — the single
  * value the whole emitted history reduces to) plus the unsealed event
  * buffer, as parallel primitive arrays (same codegen rationale as
  * [[AbcState]]). */
private[streaming] case class TransState(
    timerAt: Long, prevCode: Long,
    ts: Array[Long], eid: Array[Long], cod: Array[Long])

/** State row for [[StreamingOps]]'s Misra–Gries heavy-hitters processor:
  * the ≤ 64-entry (key, count) summary as parallel primitive arrays
  * (same codegen rationale as [[AbcState]]) plus the total events
  * seen — the monotone counter the update-mode readout collapses on.
  * THIS state row is the whole point of the op: fixed-size however many
  * distinct users flow through the stream. */
private[streaming] case class MgState(
    keys: Array[Long], counts: Array[Long], n: Int, seen: Long)

/** §2.I Structured Streaming operators (SURVEY.md §2.1 I).
  *
  * Execution discipline (D7): every oracle-checked op replays the events
  * parquet through a *real* streaming query under `Trigger.AvailableNow`
  * (micro-batch engine, checkpoint + state store, memory sink), then
  * returns the final result as a batch DataFrame. The single input file
  * ⇒ one micro-batch ⇒ output equals the equivalent batch computation,
  * which is exactly what the DuckDB oracle recomputes. Arrival-order
  * dependent behaviors (late-data drops) live in ScalaTest instead.
  *
  * Scale posture: all stateful ops are keyed (window/session/user), so
  * state partitions across executors via the shuffle; watermarks bound
  * state for the stream-stream join and would bound window state in a
  * true unbounded run.
  */
object StreamingOps {

  type Q = (SparkSession, String) => DataFrame

  private val counter = new AtomicInteger(0)

  /** Throwaway checkpoint dirs: WAL + offset log + state snapshots are many
    * small fsync'd files, so put them on tmpfs when available. These
    * checkpoints are single-run by design (unique per call); a production
    * deployment would point `checkpointLocation` at durable shared storage
    * instead — this helper is harness-local plumbing, not the durability
    * story. */
  private def tempCheckpointDir(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft_ckpt_").toString
    else Files.createTempDirectory("graft_ckpt_").toString
  }

  // The file-stream source requires its path to be a directory; the sf dir
  // holds every table, so stage a one-symlink directory per events file.
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def eventsDir(d: String): String =
    stagedDirs.computeIfAbsent(d, { _ =>
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      // A Spark-written events table (e.g. ScaleProbe staging) is already
      // a DIRECTORY of part files — usable as the stream source directly.
      // Symlinking the directory under a staging dir would hide it: the
      // file-stream source lists leaf FILES of its input dir and does not
      // recurse, so the query would see zero files, never advance the
      // watermark, and every timer-driven op would silently emit nothing.
      if (Files.isDirectory(src)) src.toString
      else {
        val dir = Files.createTempDirectory("graft_events_")
        Files.createSymbolicLink(dir.resolve("events.parquet"), src)
        dir.toString
      }
    })

  // Per-dir events schema, resolved once per JVM: the file-stream source
  // needs an explicit schema, and re-deriving it per op was one batch
  // read (file listing + footer parse) on EVERY streaming query's setup
  // path — ~0.1-0.2 s × ~39 stream ops per sweep for a value that never
  // changes within a session. The staged corpus dirs ScaleProbe creates
  // are also per-path keys, so a re-staged dir at the same path within
  // one JVM (never happens — temp dirs are unique) is the only way to
  // stale this.
  private val eventsSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  private def eventsSchema(s: SparkSession, d: String)
      : org.apache.spark.sql.types.StructType =
    eventsSchemaCache.computeIfAbsent(d, { _ =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.read.parquet(s"$d/events.parquet").schema
    })

  /** Streaming view of the events table with event-time restored. `ts`
    * is normalized to the canonical epoch-nanos bigint first (Tables H1:
    * the physical column may be a nanos BIGINT or a micros
    * TIMESTAMP_NTZ depending on testdata generation). */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(
      s.readStream.schema(eventsSchema(s, d)).parquet(eventsDir(d)))
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
  }

  /** State partition count for stateful streaming queries. Spark pins the
    * number of state-store partitions at the query's FIRST checkpoint, so
    * this is a deliberate deployment knob, not a tuning afterthought:
    * each partition is a state-store instance paying per-micro-batch
    * snapshot/commit I/O. On a real cluster set
    * `spark.graft.streaming.statePartitions` to a multiple of the executor
    * core count (it bounds max parallelism of stateful stages for the
    * lifetime of the checkpoint). The default, 4, favors the single-node
    * harness where per-store commit overhead dominates tiny inputs —
    * measured round-8: the 37-op streaming family sweep at sf0.1 ran
    * 72.8 s with 8 store partitions vs 65.0 s with 4 (every state store
    * instance pays open/commit/snapshot I/O per micro-batch regardless
    * of how few rows it holds); results are partition-count-invariant
    * (all oracles re-verified at both values).
    */
  private def statePartitions(s: SparkSession): String =
    s.conf.getOption("spark.graft.streaming.statePartitions").getOrElse("4")

  /** Run `body` with the RocksDB state-store provider set (required by
    * `transformWithState`), restoring the previous provider after — one
    * definition instead of a save/set/finally block per caller. */
  private[graft] def withRocksDb[T](s: SparkSession)(body: => T): T = {
    // NOT an optimization toggle: `transformWithState` REQUIRES the
    // RocksDB provider — the HDFS-backed store rejects it outright with
    // STATE_STORE_MULTIPLE_COLUMN_FAMILIES (verified on this Spark:
    // value state + timers = multiple column families per store). So
    // every test/bench number for the tws family IS a RocksDB number,
    // and the 100 TB state posture (changelog checkpointing, off-heap
    // state, bounded memory per store) is the only supported regime.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Serializes the narrow-conf window ACROSS [[runToMemory]] callers:
    * without it, two concurrent streaming starts could interleave their
    * set→start→restore sequences and clobber each other's restore,
    * leaving the session permanently narrowed. It does NOT shield
    * arbitrary batch queries planned on other threads during the window —
    * a batch query that never takes this lock can still capture the
    * narrowed value for its own plan. The harness (Verify/Bench/specs)
    * runs queries sequentially, so the exposure is streaming-vs-streaming
    * only; a fully concurrent deployment should plan streaming queries on
    * a cloned session instead. The query itself runs outside the lock. */
  private val confLock = new Object

  /** Run a finite streaming query (AvailableNow) into a memory sink and
    * return its content. Unique sink name + throwaway checkpoint per call
    * so Verify/Bench can invoke the same op repeatedly in one session.
    * Shuffle partitions are narrowed to [[statePartitions]] only while the
    * query starts (the engine captures the value at stream planning time)
    * and restored immediately after `start()` under [[confLock]], so
    * sibling queries in the same session keep the session-level setting. */
  private def runToMemory(df: DataFrame, mode: String): DataFrame = {
    val s = df.sparkSession
    val name = s"graft_mem_${counter.incrementAndGet()}"
    val ckpt = tempCheckpointDir()
    try {
      val q = confLock.synchronized {
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", statePartitions(s))
        try df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        finally s.conf.set("spark.sql.shuffle.partitions", prev)
      }
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    s.table(name)
  }

  /** Remove a throwaway checkpoint once its query has terminated — these
    * are single-run by design (unique dir per call), so leaving them
    * would grow tmpfs without bound across many harness invocations. */
  private def deleteRecursively(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      val stream = Files.walk(root)
      try stream.iterator().asScala.toSeq.reverseIterator
        .foreach(p => Files.deleteIfExists(p))
      finally stream.close()
    } catch { case _: Throwable => () }

  /** An update-mode memory sink appends one row per key per micro-batch;
    * with a single AvailableNow batch that is one row per key, but if the
    * file source ever splits the input (more files, maxFilesPerTrigger)
    * each key carries its intermediate updates too. Keep only the LAST
    * update per user — the running (n_events, total_value) is monotone in
    * n_events, so max_by(n_events) is exactly the final state. */
  private def collapseUpdates(mem: DataFrame): DataFrame =
    mem.groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("total_value")),
        col("n_events")).as("st"))
      .select(col("user_id"), col("st.n_events").as("n_events"),
        dec(col("st.total_value")).cast("double").as("total_value"))
      .orderBy(col("user_id"))

  /** Late-data side output (round-5 add): route every input row to an
    * ON-TIME or LATE parquet output instead of silently dropping the
    * late ones — Flink's `sideOutputLateData` analog, which Spark's
    * built-in watermark filter can't express (it discards late rows
    * before any user code sees them). The stream therefore runs
    * UN-watermarked through `foreachBatch`, with the engine's own
    * late rule re-applied per batch on the driver: the watermark
    * entering batch N is the ms-truncated max event time of batches
    * < N (delay 0), and a row is late iff ts_us < wm_ms·1000 — the
    * same µs-vs-truncated-ms compare the CEP ops pin. At scale the
    * split is two partition-local filters per batch (no shuffle,
    * no state); only the 8-byte running max lives on the driver.
    * Returns (onTime, late) read back with an explicit schema so an
    * empty side stays a valid empty frame. */
  private[graft] def lateSideOutputRun(s: SparkSession, inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      prep: DataFrame => DataFrame, tsUsCol: String,
      maxFilesPerTrigger: Option[Int]): (DataFrame, DataFrame) = {
    val onDir = graft.Scratch.tempDir("graft_ontime_")
    val lateDir = graft.Scratch.tempDir("graft_late_")
    val outSchema =
      prep(s.read.schema(schema).parquet(inputDir)).schema
    val wmUs = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = tempCheckpointDir()
    try {
      val reader = s.readStream.schema(schema)
      maxFilesPerTrigger.foreach(n =>
        reader.option("maxFilesPerTrigger", n.toString))
      val q = prep(reader.parquet(inputDir)).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val wmFloor = (wmUs.get() / 1000L) * 1000L
          batch.persist()
          try {
            batch.filter(col(tsUsCol) >= lit(wmFloor))
              .write.mode("append").parquet(onDir)
            batch.filter(col(tsUsCol) < lit(wmFloor))
              .write.mode("append").parquet(lateDir)
            val mx = batch.agg(max(col(tsUsCol))).head()
            if (!mx.isNullAt(0))
              wmUs.updateAndGet(m => math.max(m, mx.getLong(0)))
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    (s.read.schema(outSchema).parquet(onDir),
      s.read.schema(outSchema).parquet(lateDir))
  }

  val queries: Map[String, Q] = Map(
    "stream_late_side_output" -> ((s, d) => {
      // Over the single-file events corpus this is one micro-batch
      // against watermark 0, so every row routes on-time — the
      // registered query pins the NO-LOSS property (each input row on
      // exactly one side); the multi-batch late-routing behavior is
      // arrival-order dependent and lives in ScalaTest (D7).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val (onTime, late) = lateSideOutputRun(s, eventsDir(d), schema,
        df => normalizeEventsTs(df).withColumn("ts_us", expr("ts div 1000")),
        "ts_us", None)
      onTime.withColumn("side", lit("ontime"))
        .unionAll(late.withColumn("side", lit("late")))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("side"))
    }),

    "stream_tumbling" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      runToMemory(agg, "complete")
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // Streaming OHLC bars (round-5 add): ts_resample as a watermarked
    // windowed agg — open/close are NOT built-in streaming aggregates,
    // but min/max over a (ts_us, event_id, value) struct ARE (struct
    // ordering is lexicographic, so the min struct is the first event
    // and its `value` field the open) — first/last-by-time recovered
    // from associative, partial-aggregatable min/max, which is exactly
    // what a streaming (or 1000-executor partial/final) agg needs.
    // Same output schema + oracle as ts_resample.
    "stream_resample" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .select(col("ts_utc"), col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .groupBy(col("user_id"), window(col("ts_utc"), "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          min(struct(col("ts_us"), col("event_id"), col("value"))).as("o"),
          max(col("value")).as("high_v"), min(col("value")).as("low_v"),
          max(struct(col("ts_us"), col("event_id"), col("value"))).as("c"))
      runToMemory(agg, "complete")
        .select(col("user_id"), expr("unix_micros(w.start)").as("bucket_start_us"),
          col("n_events"), col("o.value").as("open_v"), col("high_v"),
          col("low_v"), col("c.value").as("close_v"))
        .orderBy(col("user_id"), col("bucket_start_us"))
    }),

    "stream_sliding" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts_utc"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      runToMemory(agg, "complete")
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    "stream_session" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .groupBy(session_window(col("ts_utc"), "10 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sum_value"))
      runToMemory(agg, "complete")
        .select(col("user_id"), col("sw.start").as("s_start"),
          col("sw.end").as("s_end"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("s_start"))
    }),

    // Chained stateful aggregation (round-2 add): hourly tumbling counts
    // re-windowed into daily rollups INSIDE one streaming query — two
    // stateful operators back to back in append mode (Flink's chained
    // window topology; Spark 4 re-windows the window column directly).
    // Append emission: a window emits once its end ≤ the watermark, so
    // with delay 0 the final watermark (= max event time) releases every
    // complete day except the last partial one — exactly what the oracle
    // recomputes with the same cutoff.
    "stream_windowed_rollup" -> ((s, d) => {
      val hourly = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .groupBy(window(col("ts_utc"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
      val daily = hourly
        .groupBy(window(col("w"), "1 day").as("dw"))
        .agg(sum(col("cnt")).as("n_events"), count(lit(1)).as("n_hours"))
      runToMemory(daily, "append")
        .select(col("dw.start").as("d_start"), col("n_events"),
          col("n_hours"))
        .orderBy(col("d_start"))
    }),

    // Mergeable-sketch aggregation in streaming state (round-2 add):
    // approx_count_distinct's HLL buffer lives in the state store per
    // window, merging partials across micro-batches and partitions — the
    // 100 TB form of windowed distinct-user counting (exact distinct
    // would hold every user id in state). Approximate ⇒ rows-only +
    // ScalaTest bound vs the exact batch computation.
    "stream_approx_distinct" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts_utc"), "1 day").as("w"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("cnt"))
      runToMemory(agg, "complete")
        .select(col("w.start").as("w_start"), col("approx_users"),
          col("cnt"))
        .orderBy(col("w_start"))
    }),

    "stream_dedup" -> ((s, d) => {
      val deduped = eventsStream(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .dropDuplicates("event_id")
      runToMemory(deduped, "append").orderBy(col("event_id"))
    }),

    "stream_stateful_agg" -> ((s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("user_id"), col("value")).as[(Long, Double)]
      val out = ev.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
          (uid: Long, rows: Iterator[(Long, Double)],
           state: org.apache.spark.sql.streaming.GroupState[(Long, BigDecimal)]) => {
            var (n, acc) = state.getOption.getOrElse(
              (0L, BigDecimal(java.math.BigDecimal.ZERO)))
            rows.foreach { case (_, v) =>
              n += 1
              // round each value to 6 dp on entry = CAST(v AS DECIMAL(38,6))
              acc += BigDecimal(
                java.math.BigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP))
            }
            state.update((n, acc))
            (uid, n, acc)
          })
        .toDF("user_id", "n_events", "total_value")
      collapseUpdates(runToMemory(out, "update"))
    }),

    // Same per-user running aggregate as stream_stateful_agg, but through
    // Spark 4's transformWithState — the full KeyedProcessFunction analog
    // (typed per-key state handles, timer/TTL support, state-schema
    // evolution). Requires the RocksDB state store provider; restores the
    // session's provider after the run so sibling queries keep the default.
    "stream_stateful_tws" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("user_id"), col("value")).as[(Long, Double)]
      val out = ev.groupByKey(_._1)
        .transformWithState(new RunningAggProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "total_value")
      collapseUpdates(runToMemory(out, "update"))
    }),

    // Streaming Count-Min sketch (round-6 add): agg_cm_sketch's cell
    // table as a complete-mode streaming aggregate. CM is a LINEAR
    // sketch — cell counts are plain keyed sums — so after the final
    // micro-batch the streaming cells are bit-identical to the batch
    // sketch whatever the batching or arrival order, and (unique among
    // the sketch twins) the streaming op keeps the EXACT DuckDB oracle.
    // State is the ≤ 4·1024-cell table however many distinct users
    // flow through — the stream_topk_sketch bound without even its
    // order-dependence caveat. Readout = the same broadcast probe join,
    // run batch-side over the final cells.
    "stream_cm_sketch" -> ((s, d) => {
      val cellExpr =
        "pmod((%s + dep * 1000003 + 1) * 2654435761, 4294967296) div 4194304"
      val cells = eventsStream(s, d)
        .select(col("user_id"),
          explode(sequence(lit(0), lit(3))).as("dep"))
        .withColumn("cell", expr(cellExpr.format("user_id")))
        .groupBy(col("dep"), col("cell"))
        .agg(count(lit(1)).as("c"))
      val mem = runToMemory(cells, "complete")
      val probes = s.range(1, 21).select(col("id").as("q_user"))
        .select(col("q_user"), explode(sequence(lit(0), lit(3))).as("dep"))
        .withColumn("cell", expr(cellExpr.format("q_user")))
      probes.join(mem, Seq("dep", "cell"), "left")
        .groupBy(col("q_user"))
        .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
        .orderBy(col("q_user"))
    }),

    // Streaming heavy hitters via a Misra–Gries sketch (round-6 add):
    // the unbounded-stream twin of `udaf_topk_sketch`, as a
    // transformWithState processor whose per-key state is the FIXED
    // ≤ 64-entry summary — the sketch IS the state bound, so a stream
    // of any length and any user cardinality holds ≤ 64 (key, count)
    // pairs per event type (vs stream_stateful_agg's O(keys) state).
    // Update-mode emission of the current top-10 after each batch; the
    // readout keeps each type's latest emission via the monotone seen
    // counter. No-oracle (MG estimates depend on arrival order within
    // the guarantee band); UdafSketchSpec pins the est ≤ true ≤
    // est + seen/k band against the exact batch counts.
    "stream_topk_sketch" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("event_type"), col("user_id")).as[(String, Long)]
      val out = ev.groupByKey(_._1)
        .transformWithState(new MgSketchProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF("event_type", "user_id", "est_count", "seen")
      val mem = runToMemory(out, "update")
      // keep each type's LAST emission via one window pass (a
      // memory-sink self-join would conflict on attribute ids)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      mem.withColumn("max_seen", max(col("seen")).over(w))
        .filter(col("seen") === col("max_seen"))
        .select(col("event_type"), col("user_id"), col("est_count"))
        .orderBy(col("event_type"), col("est_count").desc, col("user_id"))
    }),

    // Event-time TIMERS exercised for real (round-3 add; until now the
    // timer/TTL surface was claimed but never driven): per-user session
    // windows closed by a registered event-time timer — the canonical
    // Flink KeyedProcessFunction pattern (state + timer + close-out
    // emission). The processor keeps the open session in a ValueState,
    // re-arms a timer at (last event + 10 min gap) as events extend it,
    // and emits from handleExpiredTimer once the WATERMARK passes the
    // gap — sessions data-closed by a later event emit immediately from
    // handleInputRows. Under AvailableNow the engine runs a trailing
    // no-data micro-batch with the final watermark (= max event time,
    // delay 0), so timers genuinely fire in a LATER batch than the data
    // that armed them; the per-user trailing session emits iff its close
    // time cleared the final watermark — exactly the cutoff the batch
    // oracle recomputes (timers fire at expiry <= watermark, ms
    // precision; StreamingSpec pins the boundary on crafted input).
    "stream_session_timeout" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("value"))
        .as[(java.sql.Timestamp, Long, Long, Double)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new SessionTimeoutProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(out.toDF("user_id", "start_us", "end_us", "cnt", "sum_dec"),
        "append")
        .select(col("user_id"),
          timestamp_micros(col("start_us")).as("s_start"),
          timestamp_micros(col("end_us")).as("s_end"), col("cnt"),
          col("sum_dec").cast(Money).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("s_start"))
    }),

    // Dynamic-gap session windows (round-5 add): the gap each event
    // contributes depends on its type — Flink's
    // SessionWindowTimeGapExtractor — so the session close time is the
    // running max of per-event ends, which a fixed trailing gap can't
    // express. Same timer discipline as stream_session_timeout.
    "stream_session_dynamic" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .as[(java.sql.Timestamp, Long, Long, String, Double)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new DynamicGapSessionProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(out.toDF("user_id", "start_us", "end_us", "cnt", "sum_dec"),
        "append")
        .select(col("user_id"),
          timestamp_micros(col("start_us")).as("s_start"),
          timestamp_micros(col("end_us")).as("s_end"), col("cnt"),
          col("sum_dec").cast(Money).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("s_start"))
    }),

    // Streaming CEP funnel (round-4 add; a Cep pattern instance since
    // round-8): the event-time-timer twin of the batch `events_funnel`
    // op — per signup, the FIRST purchase by the same user within 1 h,
    // or an explicit non-conversion verdict. Literally
    // `begin(1h).followedBy(purchase)` anchored on signups, through the
    // same CepPatternProcessor as every other stream_pattern_* op (the
    // hand-built FunnelProcessor automaton is retired — the anchor
    // type is a processor parameter now). The verdict for a signup is
    // only knowable once the watermark passes its 1 h deadline (an
    // earlier-timestamped purchase may still arrive until then), so
    // nothing emits from handleInputRows: events buffer in state and
    // each signup evaluates exactly when its deadline timer fires —
    // the Flink-CEP followedBy().within() pattern on Spark's
    // transformWithState. Under AvailableNow the trailing no-data batch
    // carries the final watermark (= max event time), so signups whose
    // deadline cleared it emit and the rest stay pending — the same
    // ms-precision cutoff the batch oracle recomputes.
    "stream_funnel" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(funnelPattern, funnelProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "purchase_id", "us_to_convert"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Streaming conversion-lag histogram (round-5 add): CHAINED stateful
    // operators — the timer-sealed funnel verdicts (transformWithState,
    // append) feed a bucket aggregation in the SAME streaming query,
    // sunk in complete mode (the ≤12-cell rollup is tiny, so complete's
    // full-state retention is free). This is the multi-stateful-operator
    // capability: CEP output consumed by downstream streaming analytics
    // without landing in between. Oracle = the batch funnel under the
    // same watermark cutoff, rolled into the same 5-min integer buckets.
    "stream_conversion_lag" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val verdicts = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(funnelPattern, funnelProject),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "signup_id", "purchase_id", "us_to_convert")
      val lag = verdicts.filter(col("purchase_id").isNotNull)
        .withColumn("bucket_5min", expr("us_to_convert div 300000000"))
        .groupBy(col("bucket_5min"))
        .agg(count(lit(1)).as("n_conversions"),
          min(col("us_to_convert")).as("min_lag_us"),
          max(col("us_to_convert")).as("max_lag_us"))
      runToMemory(lag, "complete")
        .orderBy(col("bucket_5min"))
    }),

    // Streaming daily actives (round-5 add): chained stateful dedup →
    // aggregation — watermark-bounded dedup feeds the per-day DAU count
    // in the same query (complete-mode sink over the day-cardinality
    // rollup). STATE BOUND: `dropDuplicatesWithinWatermark` under a
    // 1-day watermark delay evicts a (user, day) entry once the
    // watermark passes first-seen + 1 day, so dedup state holds only
    // ~2 days of (user, day) pairs however long the stream runs — vs
    // plain `dropDuplicates(user, day)`, whose integer day key is not
    // an event-time column and therefore NEVER evicts. Exactness holds
    // under BOUNDED ARRIVAL DISORDER (≤ 1 day, guaranteed here by the
    // harness's in-order file replay): two events sharing a (user, day)
    // key are < 24 h apart in EVENT time, and as long as each duplicate
    // ARRIVES before the watermark (max seen ts − 1 day) passes
    // first_seen + 1 day, it is suppressed and the output is
    // bit-identical to the batch (user, day) distinct rollup. A same-day
    // duplicate delivered later than that (arrival disorder > 1 day)
    // would be re-admitted after state eviction and double-counted —
    // the inherent trade of any bounded-state dedup; widen the
    // watermark delay to the deployment's real disorder bound. The 1-day
    // delay costs nothing downstream: the day rollup runs in complete
    // mode, which re-emits every batch regardless of watermark.
    "stream_dau" -> ((s, d) => withRocksDb(s) {
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "1 day")
        .select(col("ts_utc"), col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"))
      val dau = ev.dropDuplicatesWithinWatermark("user_id", "day")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("dau"))
      runToMemory(dau, "complete").orderBy(col("day"))
    }),

    // Streaming 3-step CEP (round-4 add): signup → first click → first
    // purchase within 1 h of signup, streaming twin of the batch
    // `events_pattern_abc`. Unlike the 2-step funnel (which only needs
    // the best candidate so far), the chained pattern can't fold events
    // into O(1) state: the first CLICK decides which purchases qualify,
    // and an earlier-timestamped click may arrive any time until the
    // watermark passes — so the processor buffers the window's events
    // per key (exactly Flink-CEP's `within()` state bound: events older
    // than watermark − 1 h can never join a live or future match and are
    // evicted on every timer fire) and evaluates the whole chain at the
    // signup's deadline, when it is final. Emission exclusively from
    // handleExpiredTimer, same cutoff contract as stream_funnel.
    "stream_pattern_abc" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(abcPattern,
          abcProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "click_id", "purchase_id",
          "us_to_complete"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Streaming quantified CEP (round-5 add): A B+ C within 1 h, the
    // `Pattern.oneOrMore()` capability on the same buffered-window
    // machinery as stream_pattern_abc (one extra count over the sealed
    // buffer at verdict time — state shape and bounds unchanged).
    "stream_pattern_quantified" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(quantifiedPattern,
          quantifiedProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "click_id", "purchase_id",
          "b_count", "us_to_complete"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Streaming BOUNDED until-quantifier CEP (round-11 add): A B*
    // until C, within 1 h — signup, EVERY click up to the FIRST
    // purchase, the window bounding what the batch op leaves open.
    // `events_pattern_until` is deliberately batch-only because an
    // OPEN until has no window for a buffer to seal (SURVEY §2.H);
    // adding `within()` is exactly what makes the until sealable, so
    // this op completes the streaming CEP matrix with the one
    // quantifier shape it lacked: `Cep.oneOrMoreUntil` — a ZERO-or-
    // more loop whose close is a required binding (vs `oneOrMore`'s
    // pivot-required greedy loop). Same buffered-window machinery,
    // state shape and timer bounds as stream_pattern_quantified; the
    // verdict adds one bounded count over the sealed buffer.
    "stream_pattern_until_bounded" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(untilBoundedPattern,
          untilBoundedProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "purchase_id", "b_count",
          "us_to_close"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Streaming exact-count CEP (round-5 add): A B{2} C within 1 h,
    // the `Pattern.times(2)` capability on the shared buffered-window
    // machinery (state shape, eviction and timer bounds unchanged; the
    // verdict chains one more first-match scan than the 3-step pattern).
    "stream_pattern_times" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(timesPattern,
          timesProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "click1_id", "click2_id",
          "purchase_id", "us_to_complete"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Streaming absence CEP (round-5 add): signups with NO purchase in
    // the following hour, the timer-sealed negation twin of the batch
    // `events_pattern_absence` — emission only when the watermark
    // passes the signup's deadline, since until then a late in-window
    // purchase could still void the non-match. Same machinery and
    // cutoff contract as stream_pattern_abc.
    "stream_pattern_absence" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(absencePattern,
          absenceProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "s_ts_us", "followed"), "append")
        .filter(!col("followed"))
        .select(col("user_id"), col("signup_id"), col("s_ts_us"))
        .orderBy(col("signup_id"))
    }),

    // Streaming optional-step CEP (round-5 add): A B? C within 1 h —
    // the `optional()` quantifier on the shared buffered-window
    // machinery (state shape, eviction, timer bounds unchanged; the
    // verdict adds the greedy fallback scan).
    "stream_pattern_optional" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(optionalPattern,
          optionalProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "click_id", "purchase_id",
          "us_to_complete"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Browse-abandonment CEP (round-7 add): signup → first click, then
    // NOT followed by a purchase before the signup's 1 h deadline — the
    // abandoned-intent pattern every conversion dashboard wants, and
    // the first pattern here composed ENTIRELY through the Cep builder
    // (followedBy + terminal notFollowedBy — a step composition none of
    // the five pre-existing automata had) rather than a bespoke
    // processor: the operator is the pattern declaration plus an output
    // projection. Negation after a bound step is timer-sealed like
    // stream_pattern_absence (any earlier emission could be voided by a
    // late in-window purchase), and the negation scans from the CLICK,
    // not the signup — a purchase BEFORE the click does not redeem the
    // abandonment (Flink notFollowedBy contiguity).
    "stream_pattern_abandon" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(abandonPattern,
          abandonProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "click_id", "c_ts_us", "matched"),
        "append")
        .filter(col("matched"))
        .select(col("user_id"), col("signup_id"), col("click_id"),
          col("c_ts_us"))
        .orderBy(col("signup_id"))
    }),

    // Streaming strict-contiguity step (round-8 add): Flink's `next()`
    // — per signup, iff the user's IMMEDIATELY following event (of ANY
    // type, other signups included — a gap of even one view breaks
    // contiguity) is a click within 1 h, bind it; the twin of
    // `events_pattern_strict`, through the same CepPatternProcessor as
    // the rest of the family. The pattern's `needsAllTypes` makes the
    // buffer hold the full alphabet (strictness is undecidable over a
    // filtered buffer) — state stays bounded by the same 1 h horizon,
    // just denser; the full type map rides the round-8 typeCodes
    // parameter. Verdict at watermark seal, as always: an
    // earlier-timestamped event arriving late could void "immediately
    // following" until the window is final.
    "stream_pattern_strict" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepPatternProcessor(strictPattern,
          strictProject, typeCodes = cepAllTypeNames.map(_.swap)),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "next_click_id"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Streaming iterative condition (round-13 add): Flink-CEP's
    // `IterativeCondition` (`.where(ctx)` reading prior bindings) — per
    // signup, the FIRST purchase within 1 h whose value EXCEEDS the
    // signup's own value; a cheaper earlier purchase is SKIPPED, not a
    // match-ender (the value predicate filters the first-match scan).
    // Rides the value-carrying twin of the shared buffer processor
    // (CepValuePatternProcessor — anchors and buffered events carry
    // their `value`); the SAME Pattern object compiles to the batch
    // `events_pattern_value` via BatchCep, so the predicate semantics
    // are provably one spec. Verdict at watermark seal, as always: an
    // earlier-timestamped qualifying purchase may arrive late until
    // the window is final.
    "stream_pattern_value" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"),
          col("value"))
        .as[(java.sql.Timestamp, Long, Long, String, Long, Double)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CepValuePatternProcessor(valuePattern,
          valueProject),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "signup_id", "purchase_id",
          "purchase_value", "us_to_convert"),
        "append")
        .orderBy(col("signup_id"))
    }),

    // Count-based tumbling windows (round-5 add): Flink's
    // `countWindow(5)` per user — inexpressible with Spark's time-based
    // window(). Each full run of 5 events in EVENT-TIME order emits one
    // window; a window seals when the watermark passes its 5th member's
    // millisecond (before that, an out-of-order arrival could still
    // claim an earlier rank). `value` rides as exact decimal micro-units
    // so the per-window sum is integer arithmetic (D2). Batch twin:
    // events_count_window; oracle = its SQL with the final-watermark
    // seal cutoff.
    "stream_count_window" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_id"),
          (dec(col("value")) * 1000000).cast("long").as("v_us"))
        .as[(java.sql.Timestamp, Long, Long, Long, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CountWindowProcessor(5),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "win_idx", "w_first_us", "w_last_us",
          "sum_value"),
        "append")
        .orderBy(col("user_id"), col("win_idx"))
    }),

    // Sliding count windows (round-5 add): Flink's `countWindow(5, 2)`
    // per user — window j covers event-time ranks [2j+1, 2j+5], so
    // consecutive windows overlap by 3 events and each event feeds up to
    // 3 windows. Same processor and seal rule as stream_count_window
    // (slide == winSize degenerates to it); the extra state machinery is
    // `baseRank`, which keeps buffered ranks global across the partial
    // evictions that overlap forces (an event leaves only after its LAST
    // window emits). Batch twin: events_count_sliding; oracle = its SQL
    // with the final-watermark seal cutoff.
    "stream_count_sliding" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_id"),
          (dec(col("value")) * 1000000).cast("long").as("v_us"))
        .as[(java.sql.Timestamp, Long, Long, Long, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new CountWindowProcessor(5, 2),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("user_id", "win_idx", "w_first_us", "w_last_us",
          "sum_value"),
        "append")
        .orderBy(col("user_id"), col("win_idx"))
    }),

    // Streaming EWMA (round-5 add): ts_ewma per event, emitted when the
    // watermark seals the event's rank. The per-key state is 9 longs
    // (the lag context) + the unsealed horizon — the whole emitted
    // history compresses into the truncated window, which is what makes
    // a per-event analytic viable as unbounded streaming state. Oracle =
    // ts_ewma's SQL over the sealed prefix.
    "stream_ewma" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_id"),
          (dec(col("value")) * 1000000).cast("long").as("v_us"))
        .as[(java.sql.Timestamp, Long, Long, Long, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new EwmaProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(out.toDF("event_id", "user_id", "ewma"), "append")
        .orderBy(col("event_id"))
    }),

    // Streaming rolling z-score (round-5 add): ts_zscore's 20-event
    // frame as streaming state — each event, once sealed, scored
    // against the previous ≤20 sealed values; |z| > 3 flags. Values in
    // milli-units so every moment stays under 2^53 (exact long→double
    // casts both engines — see ZscoreProcessor). v_ms derives from the
    // exact micro-unit long by integer div 1000 (values are
    // non-negative, so floor == truncate on both engines).
    "stream_zscore" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)" +
            " div 1000").as("v_ms"))
        .as[(java.sql.Timestamp, Long, Long, Long, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new ZscoreProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
      runToMemory(
        out.toDF("event_id", "user_id", "z", "is_anomaly"), "append")
        .orderBy(col("event_id"))
    }),

    // Streaming Markov transitions (round-5 add): events_transitions'
    // lag chain per event — each event, once sealed, emits (previous
    // type → its type). State is ONE long (last sealed code) + the
    // unsealed horizon. The type alphabet is the op's configured CEP
    // alphabet (patterns always have a finite one), coded to ints so
    // the state row stays primitive-array (the AbcState codegen
    // rule). Oracle: the batch lag SQL over the sealed prefix.
    "stream_transitions" -> ((s, d) => withRocksDb(s) {
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts_utc", "0 seconds")
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_id"),
          expr("CAST(CASE event_type WHEN 'click' THEN 0" +
            " WHEN 'error' THEN 1 WHEN 'purchase' THEN 2" +
            " WHEN 'signup' THEN 3 WHEN 'view' THEN 4" +
            " ELSE 5 END AS BIGINT)").as("code"))
        .as[(java.sql.Timestamp, Long, Long, Long, Long)]
      val out = ev.groupByKey(_._3)
        .transformWithState(new TransitionProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
      val alpha = array(lit("click"), lit("error"), lit("purchase"),
        lit("signup"), lit("view"), lit("other"))
      runToMemory(
        out.toDF("event_id", "user_id", "from_code", "to_code"), "append")
        .select(col("event_id"), col("user_id"),
          element_at(alpha, (col("from_code") + 1).cast("int"))
            .as("from_type"),
          element_at(alpha, (col("to_code") + 1).cast("int"))
            .as("to_type"))
        .orderBy(col("event_id"))
    }),

    "stream_stream_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_utc").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "1 hour")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts_utc").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "inner")
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
      runToMemory(joined, "append").orderBy(col("p_id"), col("c_id"))
    }),

    // Windowed Top-N (round-5 add): top-2 event types per 1 h tumbling
    // window by count — Flink's "Window Top-N" recipe, which is a RANK
    // OVER THE WINDOW AGGREGATE'S OUTPUT, not a bigger window agg: the
    // streaming stage computes the per-(window, type) counts (keyed
    // state, partial+final agg); the row_number over each sealed
    // window's handful of type rows is the cheap second operator
    // downstream of the sink, exactly where Flink's SQL planner puts it.
    "stream_windowed_topk" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w_start"))
        .orderBy(col("cnt").desc, col("event_type"))
      runToMemory(agg, "complete")
        .select(col("w.start").as("w_start"), col("event_type"), col("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .orderBy(col("w_start"), col("rn"))
    }),

    // Tumbling-WINDOW stream-stream join (round-5 add): purchases and
    // clicks of the same user joined per 1 h window — Flink's window
    // join, where co-membership in the window (not a row-to-row time
    // distance) is the match rule; the complement of the interval join
    // above. The window struct rides the equi-join key, so state on both
    // sides evicts wholesale once the watermark passes a window.
    "stream_window_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts_utc", "0 seconds")
        .select(window(col("ts_utc"), "1 hour").as("pw"),
          col("event_id").as("p_id"), col("user_id").as("p_user"))
      val c = ev.filter(col("event_type") === "click")
        .withWatermark("ts_utc", "0 seconds")
        .select(window(col("ts_utc"), "1 hour").as("cw"),
          col("event_id").as("c_id"), col("user_id").as("c_user"))
      val joined = p.join(c,
        col("pw") === col("cw") && col("p_user") === col("c_user"),
        "inner")
        .select(col("pw.start").as("w_start"), col("p_id"), col("c_id"),
          col("p_user").as("user_id"))
      runToMemory(joined, "append").orderBy(col("p_id"), col("c_id"))
    }),

    // Left-outer time-bounded stream-stream join (round-5 add): every
    // purchase with its preceding-30-min clicks OR an explicit null row
    // once the watermark seals its window — the non-match emission Flink
    // interval joins provide and the inner variant above can't. Matches
    // stream out eagerly; a buffered left row null-emits only when the
    // right watermark has passed its whole match window (c_ts ≤ p_ts),
    // so state stays bounded by the 30-min interval on both sides.
    "stream_stream_join_outer" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_utc").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "0 seconds")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts_utc").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "0 seconds")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
      runToMemory(joined, "append").orderBy(col("p_id"), col("c_id"))
    }),

    // Full-outer time-bounded stream-stream join (round-5 add): the
    // completion of the streaming join matrix — matches emit eagerly,
    // a purchase's null row seals when the watermark passes its own
    // event time, a click's null row when it passes the far edge of
    // the purchases it could still match (c_ts + 30 min). Oracle
    // recomputes both null-side cutoffs against the final per-side-MIN
    // watermark, the rule stream_stream_join_outer pinned.
    "stream_stream_join_full" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_utc").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "0 seconds")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts_utc").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "0 seconds")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "full_outer")
        .select(col("p_id"), col("c_id"),
          coalesce(col("p_user"), col("c_user")).as("user_id"))
      runToMemory(joined, "append").orderBy(col("p_id"), col("c_id"))
    }),

    // Right-outer time-bounded stream-stream join (round-5 add): the
    // mirror of stream_stream_join_outer with the preserved side on the
    // right — every CLICK with its matching purchases OR a null row
    // once the watermark passes the far edge of the purchases it could
    // still match (c_ts + 30 min, the same rule as the full join's
    // click-null side).
    "stream_stream_join_right" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_utc").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "0 seconds")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts_utc").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "0 seconds")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "right_outer")
        .select(col("p_id"), col("c_id"),
          coalesce(col("p_user"), col("c_user")).as("user_id"))
      runToMemory(joined, "append").orderBy(col("c_id"), col("p_id"))
    }),

    // Left-semi time-bounded stream-stream join (round-5 add):
    // purchases that HAD a same-user click in the preceding 30 min —
    // the match set emits eagerly as clicks arrive (a semi verdict
    // needs no sealing: one match suffices and duplicates are
    // impossible by construction), so the oracle is the plain batch
    // EXISTS with no watermark term.
    "stream_stream_join_semi" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_utc").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "0 seconds")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts_utc").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "0 seconds")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_semi")
        .select(col("p_id"), col("p_user").as("user_id"))
      runToMemory(joined, "append").orderBy(col("p_id"))
    }),

    // Anti time-bounded stream-stream join (round-5 add): purchases
    // with NO same-user click in the preceding 30 min — the join-shaped
    // absence detection (stream_pattern_absence's CEP twin as pure
    // relational algebra). Spark rejects a literal streaming
    // `left_anti` (right side would need full retention), but the
    // watermarked LEFT-OUTER's null rows are BY DEFINITION the anti
    // set, emitted exactly when the watermark seals each purchase's
    // window — so the anti join is outer + null-filter, with the
    // engine's existing state eviction doing the sealing.
    "stream_stream_join_anti" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts_utc").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "0 seconds")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts_utc").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "0 seconds")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
        .filter(col("c_id").isNull)
        .select(col("p_id"), col("p_user").as("user_id"))
      runToMemory(joined, "append").orderBy(col("p_id"))
    }),

    "stream_static_join" -> ((s, d) => {
      val enriched = eventsStream(s, d)
        .join(broadcast(customer(s, d)),
          col("user_id") === col("c_custkey"), "inner")
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"))
      runToMemory(enriched, "append").orderBy(col("event_id"))
    }),

    "sink_foreachBatch" -> ((s, d) => {
      val dir = graft.Scratch.tempDir("graft_fb_")
      val ev = eventsStream(s, d).select(col("event_id"), col("event_type"))
      val ckpt = tempCheckpointDir()
      try {
        val q = ev.writeStream
          .foreachBatch((batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(dir))
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      } finally deleteRecursively(ckpt)
      s.read.parquet(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))
    }),

    // Exactly-once foreachBatch sink (round-16 add; the r15 verdict's
    // item 5, made a registered face): Spark guarantees foreachBatch
    // only AT-LEAST-once — a batch that fails between its side-effect
    // and its checkpoint commit is REPLAYED under the SAME batchId —
    // so a sink is effectively exactly-once iff the write is
    // IDEMPOTENT in batchId. The registered pattern: a deterministic
    // batch_id=<id> partition target + mode("overwrite"), so a replay
    // replaces its own files (torn or complete) and can never
    // duplicate. `sink_foreachBatch` above is the naive append
    // contrast; StreamingRecoverySpec drives BOTH failure paths
    // (torn write, and complete-write-then-crash-before-commit)
    // through this exact pattern and proves no loss/no duplicates.
    "sink_exactly_once" -> ((s, d) => {
      val dir = graft.Scratch.tempDir("graft_fb_xo_")
      val ev = eventsStream(s, d).select(col("event_id"), col("event_type"))
      val ckpt = tempCheckpointDir()
      try {
        val q = ev.writeStream
          .foreachBatch((batch: DataFrame, batchId: Long) =>
            batch.write.mode("overwrite")
              .parquet(s"$dir/batch_id=$batchId"))
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      } finally deleteRecursively(ckpt)
      s.read.parquet(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))
    }),

    "stream_minhash_ingest" -> ((s, d) => minhashIngestRun(s, d, 4)._1),

    "stream_embedding_ingest" -> ((s, d) => embeddingIngestRun(s, d, 4)._1),

    "stream_keep_best_ingest" -> ((s, d) => keepBestIngestRun(s, d, 4)._1),

    "stream_decontaminate_ingest" ->
      ((s, d) => decontaminateIngestRun(s, d, 4)._1),

    "stream_ann_query" -> ((s, d) => annQueryRun(s, d, 4)._1),

    "stream_perplexity_bucket" ->
      ((s, d) => perplexityBucketRun(s, d, 4)._1),

    "stream_ann_live" -> ((s, d) => annLiveRun(s, d, 4)._1),
    "stream_pq_live" -> ((s, d) => pqLiveRun(s, d, 4)._1),
    // delta-epoch variant (r16): retrain on epochs 1 and 3, assign-only
    // on 2 and 4 — the 100 TB deployment cadence where a full rebuild
    // is amortized over `retrainEvery` epochs and the epochs between
    // pay only O(batch) assignment
    "stream_pq_live_delta" ->
      ((s, d) => pqLiveRun(s, d, 4, retrainEvery = 2)._1),
    "stream_pca_live" -> ((s, d) => pcaLiveRun(s, d, 4)._1),
    "stream_outliers_live" -> ((s, d) => outliersLiveRun(s, d, 4)._1),

    "stream_ccnet_ingest" -> ((s, d) => ccnetIngestRun(s, d, 4)._1),

    "stream_semantic_ingest" -> ((s, d) => semanticIngestRun(s, d, 4)._1),

    "stream_temporal_join" -> ((s, d) => temporalJoinRun(s, d, 4)._1),

    "stream_rules_apply" -> ((s, d) => rulesApplyRun(s, d, 4)._1),

    "stream_importance_ingest" ->
      ((s, d) => importanceIngestRun(s, d, 4)._1),
    "stream_bpe_ingest" ->
      ((s, d) => bpeIngestRun(s, d, 4)._1),
    "stream_phash_ingest" ->
      ((s, d) => phashIngestRun(s, d, 4)._1),

    "stream_side_output_late" ->
      ((s, d) => sideOutputLateRun(s, d, 4)._1)
  )

  // ---- stream_minhash_ingest plumbing ---------------------------------

  /** Staged id-ordered batches for the streaming ingest ops: a table
    * split into `k` equal id-range parquet files, one per future
    * micro-batch, with strictly ascending mtimes so the file-stream
    * source (which orders its listing by modification time) replays
    * them in id order under `maxFilesPerTrigger=1`. Staged once per
    * cache key — harness plumbing standing in for a real ingest
    * directory, where arrival order IS id order by construction (ids
    * are assigned at ingest time). `src` is by-name: a cache hit builds
    * no frame, so it pays no parquet schema-inference job. */
  private val stagedBatchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def tableBatchDir(key: String, src: => DataFrame, idCol: String,
      k: Int): String =
    stagedBatchDirs.computeIfAbsent(key, { _ =>
      val df = src
      val dir = registeredScratchDir("graft_ingest_")
      // once-per-staging O(1) driver scalar (epoch split, not query
      // path); an EMPTY table stages k empty files (maxId = -1), so
      // the all-empty-stream readout paths stay exercisable
      val maxId = {
        val r = df.agg(max(col(idCol))).head()
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
      (0 until k).foreach { i =>
        val lo = (maxId + 1) * i / k
        val hi =
          if (i == k - 1) Long.MaxValue else (maxId + 1) * (i + 1) / k
        val slice = graft.Scratch.tempDir("graft_slice_")
        df.filter(col(idCol) >= lo && col(idCol) < hi)
          .coalesce(1).write.mode("overwrite").parquet(slice)
        val part = new java.io.File(slice).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for batch $i"))
        val dst = java.nio.file.Paths.get(dir, f"batch_$i%02d.parquet")
        Files.move(part.toPath, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1000000000000L + i * 60000L))
        deleteRecursively(slice)
      }
      dir
    })

  /** Staged MOD-k batches: slice i holds the rows with id % k == i.
    * Unlike the id-range staging, every slice spans the FULL
    * event-time range, so slices 2..k carry genuinely LATE rows once
    * the watermark has advanced to slice 1's max — the arrival shape
    * the late-data side output exists for (an id-range-staged stream
    * can never be late: ts is monotone in id). */
  private def tableBatchDirMod(key: String, src: => DataFrame,
      idCol: String, k: Int): String =
    stagedBatchDirs.computeIfAbsent(key, { _ =>
      val df = src
      val dir = registeredScratchDir("graft_ingest_")
      (0 until k).foreach { i =>
        val slice = graft.Scratch.tempDir("graft_slice_")
        df.filter(pmod(col(idCol), lit(k.toLong)) === i)
          .coalesce(1).write.mode("overwrite").parquet(slice)
        val part = new java.io.File(slice).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for batch $i"))
        val dst = java.nio.file.Paths.get(dir, f"batch_$i%02d.parquet")
        Files.move(part.toPath, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1000000000000L + i * 60000L))
        deleteRecursively(slice)
      }
      dir
    })

  private def documentsBatchDir(s: SparkSession, d: String, k: Int): String =
    tableBatchDir(s"docs:$d@$k",
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
      "doc_id", k)

  /** §2.I streaming sketch-dedup INGEST (round-10 add): the
    * continuous-arrival deployment of the MinHash-LSH epoch chain. A
    * file-stream source replays the documents table as `k` id-ordered
    * micro-batches (`maxFilesPerTrigger=1`); each batch probes the band
    * index staged by all prior batches
    * ([[graft.operators.LlmOps.advanceMinhashEpochFrom]]), appends its
    * verdicts to the sink, and stages the advanced index as the next
    * epoch's parquet — a versioned-directory pointer swap, exactly the
    * once-per-epoch cost `llm_minhash_lsh_persisted` amortizes, now
    * paid inside the stream. By the MinhashChainSpec theorems the final
    * verdict table is batch-boundary-invariant and equals the
    * horizon-free truth dup_of(n) = min{c < n : {c, n} a band-candidate
    * pair} — the DuckDB oracle recomputes that truth globally, so a
    * hash match re-proves the whole chain over this corpus. The
    * id-ordered-arrival precondition is asserted per batch (an
    * out-of-order file fails loudly rather than mis-attributing
    * keepers).
    *
    * Scale posture: per batch the work is O(batch band rows + matched
    * index rows) — the existing corpus is never re-banded or re-paired;
    * the index stays O(distinct band rows) forever under min-rep
    * compaction (the advanceMinhashEpoch theorem); and the only
    * cross-batch state is parquet (index) + the append sink (verdicts),
    * NOT the state store — executors hold nothing between batches, so
    * the stream restarts from the staged epoch like any batch job.
    * Replay + restart (round 11, pinned by StreamIngestSpec's kill and
    * checkpoint-tamper tests): the index version is KEYED ON batchId —
    * the exactly-once idiom — and written with mode=overwrite, so a
    * replayed epoch re-reads the same committed predecessor v(b) and
    * deterministically re-materializes v(b+1); verdict rows are a
    * deterministic function of (batch, v(b)) and the readout folds the
    * append sink through `distinct()`, so a replayed append collapses
    * exactly. Every kill point therefore resumes to the byte-identical
    * final table: [[minhashIngestRunAt]] recovers the arrival horizon
    * from the checkpoint's committed-batch count + the staged files.
    * Returns (verdicts ordered by doc_id, number of micro-batches). */
  /** One audited copy of the ingest family's run discipline: throwaway
    * checkpoint, then start under the narrowed conf window — shuffle
    * partitions → [[statePartitions]] AND AQE off for the stream's
    * lifetime (the micro-batch session clone captures the conf at
    * start): every foreachBatch probe join runs over one small batch,
    * where 32-way shuffles and per-stage AQE re-planning are pure
    * scheduling overhead — the same rationale and set→start→restore
    * pattern as [[runToMemory]]'s window. On a real cluster
    * `spark.graft.streaming.statePartitions` scales the width back up.
    * Known benign race (mirrors runToMemory): start() counts down the
    * stream-start latch before the micro-batch session clone is taken,
    * so the clone can occasionally capture the already-restored (wide,
    * AQE-on) conf — perf-only; if bench numbers for the ingest family
    * ever go flaky, restore the conf from a StreamingQueryListener
    * after the first batch instead. */
  private def runIngest(s: SparkSession)(build: =>
      org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Unit = {
    val ckpt = tempCheckpointDir()
    try runIngestAt(s, ckpt)(build)
    finally deleteRecursively(ckpt)
  }

  /** [[runIngest]] against a CALLER-OWNED checkpoint that survives the
    * run — the kill-and-resume path: a second invocation with the same
    * checkpoint resumes from the committed offsets, replaying at most
    * the one in-flight batch (which the batchId-keyed versioned state
    * writes make idempotent — see the ingest runs' replay notes and
    * StreamIngestSpec's kill/tamper tests). */
  private def runIngestAt(s: SparkSession, ckpt: String)(build: =>
      org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Unit = {
    val q = confLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions(s))
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try build.option("checkpointLocation", ckpt).start()
      finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
    q.awaitTermination()
  }

  /** Thrown by an ingest run's fault-injection hook (`failBeforeEpoch`)
    * at the TOP of the targeted micro-batch, before any state or sink
    * write — the clean kill point StreamIngestSpec uses to prove
    * checkpoint resume; the tampered-checkpoint test covers the dirty
    * (mid-epoch replay) points. */
  private[graft] final class PlannedIngestKill(epoch: Long)
    extends RuntimeException(s"planned ingest kill before epoch $epoch")

  /** Number of COMMITTED micro-batches in a streaming checkpoint — the
    * recovery source of truth for the resumable ingest runs: batch ids
    * are 0-based and consecutive, so the committed count is both the
    * next expected batchId and the version number of the last durable
    * state directory. */
  private[graft] def committedBatches(ckpt: String): Int = {
    val f = new java.io.File(s"$ckpt/commits")
    if (!f.isDirectory) 0
    else f.listFiles().iterator.map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toInt).foldLeft(-1)(math.max) + 1
  }

  /** High-watermark id over the first `n` staged batch files — recovery
    * for the monotone-arrival guard after a kill: the committed count
    * identifies exactly which staged files were folded into the
    * persisted state, so the guard resumes with the true horizon and a
    * replayed (uncommitted) batch still passes it, as it must for the
    * idempotent-replay story. */
  private def stagedMaxId(s: SparkSession, srcDir: String, idCol: String,
      n: Int): Long =
    if (n <= 0) Long.MinValue
    else {
      val files = (0 until n).map(i => f"$srcDir/batch_$i%02d.parquet")
      val r = s.read.parquet(files: _*).agg(max(col(idCol))).head()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }

  /** Per-run scratch dirs (ingest output / versioned index roots),
    * registered for deletion when the JVM exits: the returned readout
    * frames read these paths lazily, so eager per-run deletion would
    * break the caller — exit-time cleanup bounds the garbage to the
    * session instead of leaking it across repeated Verify/Bench/
    * ScaleProbe invocations. (The staged batch-dir CACHE is separate
    * and intentional — it is reused across runs — but registered too,
    * since at exit nothing can reuse it.) */
  private val scratchRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val scratchHookInstalled: Unit = {
    sys.addShutdownHook {
      scratchRegistry.forEach(d => deleteRecursively(d))
    }
    ()
  }
  private[graft] def registeredScratchDir(prefix: String): String = {
    scratchHookInstalled
    val d = graft.Scratch.tempDir(prefix)
    scratchRegistry.add(d)
    d
  }

  private def emptyFrame(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** The id-ordered-arrival guard shared by the stateful ingest ops:
    * one O(1)-row driver scalar per batch, returning Some((lo, hi))
    * for a non-empty batch AFTER asserting lo exceeds everything
    * already folded into the persisted state — an out-of-order file
    * fails loudly rather than mis-attributing keepers. */
  private[graft] def monotoneBatchBounds(batch: DataFrame, idCol: String,
      op: String, prevMax: java.util.concurrent.atomic.AtomicLong)
      : Option[(Long, Long)] = {
    val mm = batch.agg(min(col(idCol)), max(col(idCol))).head()
    if (mm.isNullAt(0)) None
    else {
      require(mm.getLong(0) > prevMax.get(),
        s"$op: out-of-order batch (min id ${mm.getLong(0)} <= prior " +
          s"max ${prevMax.get()}) — the id-ordered-arrival " +
          "precondition is violated")
      Some((mm.getLong(0), mm.getLong(1)))
    }
  }

  private[graft] def minhashIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try minhashIngestRunAt(s, d, k,
      registeredScratchDir("graft_mhi_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[minhashIngestRun]]: `root` holds the append
    * sink (`out/`) and the batchId-keyed index versions (`idx/v{b}`);
    * `ckpt` is the caller-owned streaming checkpoint. A re-invocation
    * with the same (root, ckpt) recovers — committed count from the
    * checkpoint, arrival horizon from the committed staged files — and
    * resumes; `failBeforeEpoch = e` injects a [[PlannedIngestKill]] at
    * the top of epoch e (1-based), the clean kill point. An EMPTY
    * committed batch advances the version chain with an unchanged
    * index copy so the successor's keyed read always finds v(b). */
  private[graft] def minhashIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val srcDir = documentsBatchDir(s, d, k)
    // one documents frame (one schema-inference job) for every schema
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val docSchema = docs.schema
    val emptyDocs = docs.filter(lit(false))
    val idxSchema = graft.operators.LlmOps
      .minhashBandIndex(emptyDocs).schema
    val verdictSchema = {
      val (g, b) = graft.operators.LlmOps.minhashBatchBanding(emptyDocs)
      graft.operators.LlmOps.minhashVerdictsCore(emptyDocs, g, b,
        emptyFrame(s, idxSchema)).schema
    }
    val outDir = s"$root/out"
    val idxRoot = s"$root/idx"
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "doc_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          batch.persist()
          try {
            val idx =
              if (batchId == 0) emptyFrame(ss, idxSchema)
              else ss.read.schema(idxSchema).parquet(s"$idxRoot/v$batchId")
            val nextDir = s"$idxRoot/v${batchId + 1}"
            monotoneBatchBounds(batch, "doc_id",
                "stream_minhash_ingest", prevMax) match {
              case None =>
                // empty committed batch: advance the chain unchanged
                idx.write.mode("overwrite").parquet(nextDir)
              case Some((_, hi)) =>
                // one banding per batch, shared by probe + index
                // advance (the sketch UDF is the batch's compute
                // kernel — persist so the two sink writes don't each
                // re-run it)
                val (bGroups, bBanded) =
                  graft.operators.LlmOps.minhashBatchBanding(batch)
                bBanded.persist()
                try {
                  graft.operators.LlmOps
                    .minhashVerdictsCore(batch, bGroups, bBanded, idx)
                    .write.mode("append").parquet(outDir)
                  // keyed on batchId + overwrite: a replayed epoch
                  // re-materializes the same deterministic content
                  graft.operators.LlmOps.compactBandIndex(idx, bBanded)
                    .write.mode("overwrite").parquet(nextDir)
                  prevMax.set(hi)
                } finally bBanded.unpersist()
            }
            nBatches.set(batchId.toInt + 1)
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    val verdicts =
      if (!new java.io.File(outDir).isDirectory)
        emptyFrame(s, verdictSchema)
      else s.read.schema(verdictSchema).parquet(outDir).distinct()
    (verdicts.orderBy(col("doc_id")), nBatches.get())
  }

  /** §2.I streaming embedding-dedup INGEST (round-10 add): the
    * embedding-modality twin of [[minhashIngestRun]] — continuous
    * arrival of vectors, deduplicated against an APPEND-ONLY persisted
    * rep index (global-first vectors + their cosine-LSH band rows).
    * Per batch: exact stage against the rep vectors, band stage for the
    * batch's global-first vectors against the staged band rows plus
    * earlier in-batch reps, candidates verified with the codegen'd
    * `cosine_sim` kernel at the round-6 ≥ 0.4 threshold
    * ([[graft.operators.TrainingDataOps.embeddingVerdictsCore]] holds
    * the per-stage theorems). The geometry is PINNED at stream start
    * from the corpus row count (capacity planning: an index generation
    * keeps one geometry for its lifetime; a re-shard is a rebuild) —
    * the same count the one-shot op and the DuckDB mirror derive it
    * from, so all three agree. Verdicts are batch-boundary-invariant
    * (rep-ness and min-earlier are horizon-free), so the oracle
    * recomputes the global truth in one shot and a hash match re-proves
    * the chain.
    *
    * Scale posture: per batch O(batch bands + matched index rows +
    * verified candidates) — the corpus is never re-banded; the index
    * grows O(distinct vectors · bands) rows TOTAL (append-only, reps
    * immutable — nothing to compact, and every band row must stay
    * individually probe-able for the cosine verify); cross-batch state
    * is parquet + the append sink, never the state store. Replay: same
    * at-least-once posture as [[minhashIngestRun]] — deterministic
    * rows, dedupe by vec_id (or per-batch overwrite partitions in a
    * durable deployment); a replayed index append adds duplicate band
    * rows, which the min-candidate fold ignores for strictly-smaller
    * candidate ids — [[graft.operators.TrainingDataOps
    * .embeddingVerdictsCore]]'s candEx guard drops any same-or-later
    * id a partial append could surface, so the fold's minimum is
    * unchanged under replay rather than merely assumed so. Returns
    * (verdicts ordered by vec_id, number of micro-batches). */
  private[graft] def embeddingIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try embeddingIngestRunAt(s, d, k,
      registeredScratchDir("graft_ei_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[embeddingIngestRun]]: `root` holds the append
    * sink (`out/`) and the append-only rep index (`reps/`, `bands/`);
    * `ckpt` is the caller-owned checkpoint; `failBeforeEpoch` injects a
    * [[PlannedIngestKill]] at the top of the given (1-based) epoch.
    * Unlike the versioned runs there is no keyed state here — replay
    * idempotence is ALGEBRAIC: duplicate index appends are absorbed by
    * the candEx ordering guard + min-candidate folds
    * ([[graft.operators.TrainingDataOps.embeddingVerdictsCore]]) and
    * duplicate verdict appends by the readout's `distinct()`, so every
    * kill point resumes to the identical final table. */
  private[graft] def embeddingIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    graft.functions.CosineSimilarity.register(s)
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val srcDir = tableBatchDir(s"emb:$d@$k", emb, "vec_id", k)
    val embSchema = emb.schema
    // pinned geometry: parquet-metadata count, once per stream
    val (bands, bits) =
      graft.functions.CosineLsh.geometry(emb.count())
    val outDir = s"$root/out"
    val repVecsDir = s"$root/reps"
    val repBandsDir = s"$root/bands"
    Seq(outDir, repVecsDir, repBandsDir).foreach(p =>
      Files.createDirectories(java.nio.file.Paths.get(p)))
    val bandsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bk",
        org.apache.spark.sql.types.LongType)))
    val verdictSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("stage",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("dup_of",
        org.apache.spark.sql.types.LongType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "vec_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          graft.functions.CosineSimilarity.register(ss)
          batch.persist()
          try monotoneBatchBounds(batch, "vec_id",
              "stream_embedding_ingest", prevMax).foreach { case (_, hi) =>
            val repVecs = ss.read.schema(embSchema).parquet(repVecsDir)
            val repBands =
              ss.read.schema(bandsSchema).parquet(repBandsDir)
            val (verdicts, newReps, nrBands) =
              graft.operators.TrainingDataOps.embeddingVerdictsCore(
                batch, repVecs, repBands, bands, bits)
            // the band rows feed both the verify join and the index
            // append; the rep vectors feed three consumers — persist
            // so the sketch UDF and the group-collapse run once
            newReps.persist(); nrBands.persist()
            try {
              // WRITE ORDER MATTERS: every frame here descends from
              // the repVecsDir read, and appending to that path fires
              // refreshByPath — the file index re-lists and the
              // cached plans RECOMPUTE against the new listing, under
              // which each batch vector matches itself in the index
              // and newReps/nrBands collapse to empty. The rep-vector
              // append must therefore come LAST (its own write still
              // reads the pre-append cache); within this batch the
              // source file index was snapshotted at read creation.
              verdicts.write.mode("append").parquet(outDir)
              nrBands.write.mode("append").parquet(repBandsDir)
              newReps.write.mode("append").parquet(repVecsDir)
              nBatches.set(batchId.toInt + 1)
              prevMax.set(hi)
            } finally { newReps.unpersist(); nrBands.unpersist() }
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    // distinct: a replayed epoch's re-appended verdict rows are
    // byte-identical (deterministic function of batch + committed
    // index), so the fold makes at-least-once delivery exact
    (s.read.schema(verdictSchema).parquet(outDir).distinct()
      .orderBy(col("vec_id")), nBatches.get())
  }

  /** §2.I streaming ANN QUERY serving (round-11 add): the READ path the
    * ingest quartet's write path implies — a live query stream probing
    * a STATIC persisted IVF index (the 100 TB serving shape: the corpus
    * and its coarse quantizer are epoch-published artifacts; queries
    * arrive continuously and must never touch more than their probed
    * cells). The query table replays as `k` micro-batches; the centroid
    * quantizer is computed once at stream start and staged to parquet
    * (the persisted-index discipline — batches read it back as a
    * FileScan, exactly how a cluster would mount a published quantizer),
    * and each batch runs [[graft.operators.AnnOps.annIvfVerdictsCore]]:
    * probe-set broadcast, cell-keyed equi-join, exact top-5 — the
    * corpus never shuffles per batch. Queries are independent, so
    * batch-boundary invariance is STRUCTURAL (no cross-batch state at
    * all — the strongest form the ingest family's chain theorems
    * approximate), the final table equals `llm_ann_ivf` over the same
    * query set verbatim, and the oracle IS that op's mirror. Replay +
    * restart: verdict rows are a deterministic function of (batch,
    * static index) and the readout folds through `distinct()`, so
    * at-least-once appends collapse exactly; the quantizer re-stage on
    * resume is idempotent (mode=overwrite of a deterministic table). */
  private[graft] def annQueryRun(s: SparkSession, d: String, k: Int,
      nq: Int = 10): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try annQueryRunAt(s, d, k, registeredScratchDir("graft_annq_"), ckpt,
      nq = nq)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[annQueryRun]]: `root` holds the staged
    * quantizer (`cent/`) and the append verdict sink (`out/`); `ckpt`
    * is the caller-owned checkpoint; `failBeforeEpoch` injects a
    * [[PlannedIngestKill]] at the top of the given (1-based) epoch.
    * `nq` sizes the query set (vec_id < nq; 10 for the registered op —
    * ScaleProbe's `queries` mode scales it to measure the per-batch
    * serving cost on the QUERY-VOLUME axis, the r11 verdict's item 7). */
  private[graft] def annQueryRunAt(s: SparkSession, d: String, k: Int,
      root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue, nq: Int = 10)
      : (DataFrame, Int) = {
    graft.functions.CosineSimilarity.register(s)
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nq)
      .select(col("vec_id"), col("embedding"))
    val srcDir = tableBatchDir(s"annq:$d@$k:$nq", queries, "vec_id", k)
    val qSchema = queries.schema
    val centDir = s"$root/cent"
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    // the published quantizer: deterministic, so the overwrite is
    // idempotent under restart
    graft.operators.AnnOps.centroids(emb)
      .write.mode("overwrite").parquet(centDir)
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_label",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val verdictSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec_id2",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sim",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rn",
        org.apache.spark.sql.types.IntegerType)))
    val nBatches = new AtomicInteger(committedBatches(ckpt))
    runIngestAt(s, ckpt) {
      s.readStream.schema(qSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          graft.functions.CosineSimilarity.register(ss)
          val cent = ss.read.schema(centSchema).parquet(centDir)
          val verdicts = graft.operators.AnnOps.annIvfVerdictsCore(
            batch.select(col("vec_id").as("q_id"),
              col("embedding").as("q_vec")),
            embeddings(ss, d), cent)
          verdicts.write.mode("append").parquet(outDir)
          nBatches.set(batchId.toInt + 1)
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(verdictSchema).parquet(outDir).distinct()
      .orderBy(col("vec_id"), col("rn")), nBatches.get())
  }

  /** §2.I streaming perplexity QUALITY GATE (round-11 add): the text
    * counterpart of [[annQueryRun]]'s serving read path — documents
    * flow past a FROZEN published quality model. The bigram-LM grid
    * (bg → lpm micro-nats) and the tercile cutoff row are trained once
    * at stream start and staged to parquet (the artifacts a real
    * deployment trains offline on a reference corpus — here, per the
    * batch op's self-trained contract, on the streamed corpus itself,
    * which also makes the model join total: no OOV backoff needed);
    * each micro-batch explodes its own bigrams, joins the model
    * FileScan (bg-keyed equi-join — per-batch work O(batch bigrams),
    * the corpus is never re-scored), buckets against the static
    * cutoffs and appends. Per-doc scores are independent, so batch
    * invariance is STRUCTURAL (no cross-batch state): the final table
    * equals `llm_perplexity_bucket` verbatim and the oracle is that
    * op's mirror. Replay + restart: verdicts are a deterministic
    * function of (batch, static model), the readout folds through
    * `distinct()`, and the model/cutoff re-stage on resume is an
    * idempotent overwrite of deterministic tables. */
  private[graft] def perplexityBucketRun(s: SparkSession, d: String,
      k: Int): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try perplexityBucketRunAt(s, d, k,
      registeredScratchDir("graft_pplx_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[perplexityBucketRun]]: `root` holds the
    * staged model (`model/`, `cuts/`) and the append verdict sink
    * (`out/`); `ckpt` is the caller-owned checkpoint; `failBeforeEpoch`
    * injects a [[PlannedIngestKill]] at the top of the given (1-based)
    * epoch. */
  private[graft] def perplexityBucketRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val srcDir = tableBatchDir(s"pplx:$d@$k", docs, "doc_id", k)
    val docsSchema = docs.schema
    val modelDir = s"$root/model"
    val cutsDir = s"$root/cuts"
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    // publish the frozen model (idempotent overwrites of deterministic
    // tables): the grid trained on DISTINCT texts weighted by replica
    // multiplicity — equal to the full-corpus k=1 model by the
    // ngramLmScores collapse theorem, and O(distinct texts) under any
    // duplication without an adaptive decision (measured: the direct
    // grid paid 16× the bigram explode on the 16× identical probe)
    val cutF = graft.operators.AdaptiveCollapse.stageCut(s) _
    val reps = cutF(docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("k"))
      .select(col("doc_id"), col("text"), col("k")))
    val tfK = cutF(graft.operators.TrainingDataOps
      .ngramLmTfOf(reps.select(col("doc_id"), col("text")))
      .join(reps.select(col("doc_id"), col("k")), Seq("doc_id")))
    graft.operators.TrainingDataOps.ngramLmGrid(reps, tfK)
      .write.mode("overwrite").parquet(modelDir)
    val gridSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bg",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lpm",
        org.apache.spark.sql.types.LongType)))
    // cutoffs from the SAME rep tf scored against the STAGED grid
    // (r16): the old path re-ran the entire bigram-LM pipeline
    // (ngramLmPerDoc — a second corpus explode + a second grid train)
    // to reproduce scores this staging block already derives; per-rep
    // scores weighted by k give the identical per-doc histogram
    // (identical text ⇒ identical score ⇒ same bin)
    graft.operators.TrainingDataOps.perplexityCutsWeighted(
      tfK.join(s.read.schema(gridSchema).parquet(modelDir), Seq("bg"))
        .withColumn("c", col("tf") * col("lpm"))
        .groupBy(col("doc_id"))
        .agg((-sum(col("c"))).as("p"), sum(col("tf")).as("n_bigrams"))
        .join(reps.select(col("doc_id"), col("k")), Seq("doc_id")))
      .write.mode("overwrite").parquet(cutsDir)
    val cutsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b2",
        org.apache.spark.sql.types.LongType)))
    val verdictSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_bigrams",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("avg_nll",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.StringType)))
    val nBatches = new AtomicInteger(committedBatches(ckpt))
    runIngestAt(s, ckpt) {
      s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          val grid = ss.read.schema(gridSchema).parquet(modelDir)
          val cuts = ss.read.schema(cutsSchema).parquet(cutsDir)
          val sc = graft.operators.TrainingDataOps.ngramLmTfOf(batch)
            .join(grid, Seq("bg"))
            .withColumn("c", col("tf") * col("lpm"))
            .groupBy(col("doc_id"))
            .agg((-sum(col("c"))).as("p"),
              sum(col("tf")).as("n_bigrams"))
          val base = batch.select(col("doc_id"))
            .join(sc, Seq("doc_id"), "left")
            .select(col("doc_id"), col("p"),
              coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
          val us = expr("(2 * p + n_bigrams) div (2 * n_bigrams)")
          val usBin =
            expr("((2 * p + n_bigrams) div (2 * n_bigrams)) div 10000")
          base.crossJoin(broadcast(cuts))
            .select(col("doc_id"), col("n_bigrams"),
              (us / lit(1e6)).as("avg_nll"),
              when(col("n_bigrams") === lit(0L), lit("na"))
                .when(usBin <= col("b1"), lit("head"))
                .when(usBin <= col("b2"), lit("middle"))
                .otherwise(lit("tail")).as("bucket"))
            .write.mode("append").parquet(outDir)
          nBatches.set(batchId.toInt + 1)
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(verdictSchema).parquet(outDir).distinct()
      .orderBy(col("doc_id")), nBatches.get())
  }

  /** §2.I streaming LIVE ANN serving (round-12 add, the r11 verdict's
    * item 3): the read+WRITE composition `stream_ann_query` (static
    * index) deliberately left open — the corpus arrives as id-ordered
    * epochs and the SAME stream serves queries, each query batch
    * answered against exactly the index version visible at its epoch.
    * Per trigger: (write path) the visible corpus extends to the
    * batch's high-watermark prefix and the coarse quantizer is
    * RE-PUBLISHED from that prefix (epoch-versioned parquet dir — the
    * artifact a real deployment re-trains and republishes per index
    * epoch; training on the prefix only, never on unarrived data);
    * (read path) the static query set probes the staged quantizer via
    * the shared [[graft.operators.AnnOps.annIvfVerdictsCore]] — probe
    * set broadcast, cell-keyed equi-join, exact top-5 — against the
    * prefix corpus, emitting (epoch, q, neighbour, sim, rn). Per-epoch
    * work is O(prefix centroid agg + probed cells); the corpus never
    * all-pairs. The oracle recomputes every epoch's truth from the
    * tableBatchDir split formula (prefix e = vec_id < (max+1)·e/k) —
    * k prefix-parameterized images of the llm_ann_ivf mirror
    * ([[graft.operators.AnnOps.annLiveOracleSql]]). Replay + restart:
    * verdict rows are a deterministic function of (epoch prefix,
    * query set), the quantizer re-stage is an idempotent overwrite of
    * a deterministic table keyed by epoch, and the readout folds
    * through `distinct()` — so a replayed epoch re-materializes
    * byte-identical rows. */
  /** §2.I streaming PQ INDEX REBUILD + SERVE (round-13 add): the
    * [[annLiveRunAt]] pattern for the QUANTIZED index — each
    * id-ordered micro-batch advances the corpus prefix, the WHOLE
    * IVF-PQ artifact (sub-quantizer codebooks, per-vector codes,
    * coarse centroids) re-trains on that prefix and re-publishes as
    * versioned parquet (`cb_v<e>`/`codes_v<e>`/`cent_v<e>` — the
    * write side of live ANN serving for a compressed index: at scale
    * the epoch re-encode is the linear scan a real index rebuild
    * pays, while serving reads only code rows + the R-row raw
    * fetch), and the static query set re-answers against the staged
    * artifact via the shared [[graft.operators.AnnOps.pqServeFromDirs]].
    * Epoch 1 cold-trains (≡ `llm_ann_pq` on its prefix); every later
    * epoch WARM-STARTS from the previous epoch's staged codebook and
    * refines with ONE Lloyd round on its prefix (r14 — the standard
    * incremental-rebuild discipline: seeds the last build already
    * converged are never re-derived, saving the seed rank + one full
    * assign+update prefix pass per epoch). Deterministic in (prefix
    * chain), so the k-epoch oracle mirror chains cb0_e := c2_{e−1}
    * and the hash-match proves the warm path exactly. Empty epoch:
    * the warm refine round still runs on the UNCHANGED prefix under
    * the new epoch number (one more Lloyd round ⇒ the published
    * codebook/verdicts may legitimately differ from the prior
    * epoch's — the chained oracle runs the same round), and nBatches
    * always advances (the annLiveRunAt r12-advice discipline).
    * Probe-only A/B: `spark.graft.pqLiveWarmStart=false` forces every
    * epoch down the cold path (full seed rank + two Lloyd rounds) —
    * it CHANGES the published codebooks, so Verify asserts it unset
    * before any oracle dump; ScaleProbe's --conf is the only caller. */
  private[graft] def pqLiveRun(s: SparkSession, d: String, k: Int,
      retrainEvery: Int = 1): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try pqLiveRunAt(s, d, k, registeredScratchDir("graft_pql_"), ckpt,
      retrainEvery = retrainEvery)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[pqLiveRun]]: `root` holds the epoch-versioned
    * index stages and the append verdict sink (`out/`); `ckpt` is the
    * caller-owned checkpoint; `failBeforeEpoch` injects a
    * [[PlannedIngestKill]] at the top of the given (1-based) epoch.
    *
    * `retrainEvery` (r16, `stream_pq_live_delta`): epochs 1, 1+every,
    * 1+2·every, … RETRAIN (cold at 1, warm-refined from the codebook
    * in force otherwise — the `stream_pq_live` path); the epochs
    * between are ASSIGN-ONLY — codes carry forward and only the new
    * suffix is assigned against the in-force codebook
    * ([[graft.operators.AnnOps.stagePqCodesDelta]]), probes/ADC serve
    * from the stale in-force model, the exact re-rank reads the fresh
    * prefix. The in-force epoch is a pure function of the epoch
    * number, so kill/resume recomputes the identical chain.
    * retrainEvery = 1 is exactly the full-rebuild op. */
  private[graft] def pqLiveRunAt(s: SparkSession, d: String, k: Int,
      root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue,
      retrainEvery: Int = 1): (DataFrame, Int) = {
    graft.functions.CosineSimilarity.register(s)
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val srcDir = tableBatchDir(s"pqlive:$d@$k", emb, "vec_id", k)
    val embSchema = emb.schema
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    import org.apache.spark.sql.types._
    val verdictSchema = StructType(Seq(
      StructField("epoch", IntegerType),
      StructField("vec_id", LongType),
      StructField("vec_id2", LongType),
      StructField("adist", DoubleType),
      StructField("arn", IntegerType),
      StructField("rn", IntegerType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "vec_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          graft.functions.CosineSimilarity.register(ss)
          locally {
            // empty epoch: serve the unchanged prefix under the new
            // epoch number (hi = prior max), nBatches always advances
            val lo0 = prevMax.get()
            val hi = monotoneBatchBounds(batch, "vec_id",
              "stream_pq_live", prevMax).map(_._2)
              .getOrElse(prevMax.get())
            val prefix = embeddings(ss, d).filter(col("vec_id") <= hi)
            val e = batchId + 1
            // pure functions of the epoch number — kill/resume
            // recomputes the identical retrain/in-force chain
            def isRe(x: Long) = x == 1 || (x - 1) % retrainEvery == 0
            def inForce(x: Long) = (1L to x).filter(isRe).max
            val codesDir = s"$root/codes_v$e"
            val (cbDir, centDir) =
              if (isRe(e)) (s"$root/cb_v$e", s"$root/cent_v$e")
              else (s"$root/cb_v${inForce(e)}",
                s"$root/cent_v${inForce(e)}")
            if (isRe(e)) {
              // warm start (r14): a retrain epoch e ≥ 2 refines the
              // codebook IN FORCE with one Lloyd round instead of
              // re-deriving seeds + two rounds on the whole prefix —
              // cb_v(inForce(e−1)) always exists at this point
              // (staged before that epoch's checkpoint commit,
              // idempotent on replay)
              // self-naming parse (r15 advice — the bpeVocabCap
              // discipline): malformed values must not surface as a
              // bare IllegalArgumentException from toBoolean
              val warm = ss.conf
                .getOption("spark.graft.pqLiveWarmStart")
                .forall(_.trim.toLowerCase match {
                  case "true" => true
                  case "false" => false
                  case v => throw new IllegalArgumentException(
                    s"spark.graft.pqLiveWarmStart must be true or " +
                      s"false, got '$v'")
                })
              val prevCb =
                if (e == 1 || !warm) None
                else Some(ss.read
                  .schema(graft.operators.AnnOps.pqCbSchema)
                  .parquet(s"$root/cb_v${inForce(e - 1)}"))
              graft.operators.AnnOps.stagePqIndexTo(ss, prefix,
                cbDir, codesDir, centDir, prevCb)
            } else
              // delta epoch (r16): codes carry forward, only the new
              // suffix is assigned against the in-force codebook —
              // the model tables are not rebuilt at all
              graft.operators.AnnOps.stagePqCodesDelta(ss,
                prefix.filter(col("vec_id") > lo0), cbDir,
                s"$root/codes_v${e - 1}", codesDir)
            graft.operators.AnnOps.pqServeFromDirs(ss, prefix,
              cbDir, codesDir, centDir)
              .select(lit(e.toInt).as("epoch"), col("vec_id"),
                col("vec_id2"), col("adist"), col("arn"), col("rn"))
              .write.mode("append").parquet(outDir)
            nBatches.set(batchId.toInt + 1)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(verdictSchema).parquet(outDir).distinct()
      .orderBy(col("epoch"), col("vec_id"), col("rn")), nBatches.get())
  }

  /** §2.I streaming PCA over INCREMENTAL SUFFICIENT STATISTICS
    * (round-13 add): the live twin of `llm_embedding_pca`, built on
    * an EXACT integer identity instead of a prefix rescan — for any
    * fixed m, Σ(x−m)(x−m)ᵀ = Σxxᵀ − Σx·mᵀ − m·Σxᵀ + n·m·mᵀ holds
    * exactly over the micro-unit longs, so the batch op's centered
    * covariance (whose m IS truncdiv(Σx, n)) is bit-exactly
    * recoverable from the append-only state (Σxxᵀ, Σx, n). Each
    * micro-batch therefore adds ONLY its own outer products to a
    * d²-row versioned state table (per-epoch work O(batch·d²), the
    * model side never rescans the corpus — the differentiator vs the
    * retrain twins), derives the epoch's covariance from state by the
    * identity, runs the shared driver power method, and re-projects
    * the id-ordered prefix (the output rewrite every live model
    * re-publish pays; prefix-linear like annLive). Per-epoch output ≡
    * `llm_embedding_pca` on the prefix corpus — the oracle recomputes
    * covariance DIRECTLY per prefix, so the hash-match is the proof
    * of the state derivation. Empty epoch: state copies forward,
    * the unchanged prefix re-projects under the new epoch number. */
  private[graft] def pcaLiveRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try pcaLiveRunAt(s, d, k, registeredScratchDir("graft_pcal_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[pcaLiveRun]]: `root` holds the versioned
    * sufficient-statistics stages (`sxx_v<e>`, `sxn_v<e>`) and the
    * append sink (`out/`); `failBeforeEpoch` injects a
    * [[PlannedIngestKill]] at the top of the given (1-based) epoch. */
  private val pcaSxxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("i",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("j",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("sxx",
      org.apache.spark.sql.types.LongType)))
  private val pcaSxnSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("j",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("sx",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType)))

  /** Advance the PCA sufficient-statistics state for epoch `e` with
    * the batch's own contributions (micro-unit longs), stage
    * `sxx_v<e>`/`sxn_v<e>` (idempotent per-epoch overwrite for
    * replay/resume), and return the state-derived top-2 components —
    * the covariance comes from the exact integer identity, never a
    * corpus rescan. Shared by `stream_pca_live` (projections face)
    * and `stream_outliers_live` (quarantine face). */
  private def pcaStateAdvance(ss: SparkSession, root: String, e: Int,
      batch: DataFrame): (Array[Double], Array[Double]) = {
    val dim = graft.operators.PcaOps.Dim
    val arrs = batch.select(col("vec_id"), expr(
      """transform(embedding,
         x -> cast(round(cast(x as double) * 1e6) as bigint))""")
      .as("arr"))
    // per-partition Gram accumulator (PcaOps.gramPartials): d² partial
    // rows per partition instead of d² exploded structs per row —
    // identical exact longs (long addition commutes)
    val bxx = graft.operators.PcaOps.gramPartials(arrs)
      .select(col("i"), col("j"), col("cl").as("sxx"))
    // n rides the same aggregate (r16): count per coordinate ≡ the
    // batch row count for fixed-dim arrays, so the separate
    // batch.count() action (one extra batch scan per epoch, two ops ×
    // k epochs) folds away
    val bsxn = arrs
      .select(posexplode(col("arr")).as(Seq("p", "x")))
      .groupBy((col("p") + 1).cast("int").as("j"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val (sxxNew, sxnNew) =
      if (e == 1) (bxx, bsxn)
      else {
        val pxx = ss.read.schema(pcaSxxSchema)
          .parquet(s"$root/sxx_v${e - 1}")
        val pxn = ss.read.schema(pcaSxnSchema)
          .parquet(s"$root/sxn_v${e - 1}")
        (pxx.join(bxx.withColumnRenamed("sxx", "b"),
            Seq("i", "j"), "full")
          .select(col("i"), col("j"),
            (coalesce(col("sxx"), lit(0L))
              + coalesce(col("b"), lit(0L))).as("sxx")),
          pxn.join(bsxn.withColumnRenamed("sx", "bx")
              .withColumnRenamed("n", "bn"), Seq("j"), "full")
            .select(col("j"),
              (coalesce(col("sx"), lit(0L))
                + coalesce(col("bx"), lit(0L))).as("sx"),
              (coalesce(col("n"), lit(0L))
                + coalesce(col("bn"), lit(0L))).as("n")))
      }
    sxxNew.write.mode("overwrite").parquet(s"$root/sxx_v$e")
    sxnNew.write.mode("overwrite").parquet(s"$root/sxn_v$e")
    val sxn = ss.read.schema(pcaSxnSchema)
      .parquet(s"$root/sxn_v$e").collect()
    if (sxn.isEmpty)
      // empty state (every micro-batch so far empty): no model to
      // derive — publish the zero model; the caller's empty prefix
      // emits no rows for this epoch (the empty-epoch discipline)
      return (Array.fill(dim)(0.0), Array.fill(dim)(0.0))
    val n = sxn.head.getLong(2)
    val sx = Array.ofDim[Long](dim)
    sxn.foreach(r => sx(r.getInt(0) - 1) = r.getLong(1))
    val m = sx.map(v => if (v >= 0) v / n else -((-v) / n))
    val mat = Array.ofDim[Double](dim, dim)
    ss.read.schema(pcaSxxSchema).parquet(s"$root/sxx_v$e")
      .collect().foreach { r =>
        val (i, j) = (r.getInt(0) - 1, r.getInt(1) - 1)
        mat(i)(j) = (r.getLong(2) - sx(i) * m(j) - m(i) * sx(j)
          + n * m(i) * m(j)).toDouble
      }
    graft.operators.PcaOps.pcaComponents(mat)
  }

  private[graft] def pcaLiveRunAt(s: SparkSession, d: String, k: Int,
      root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val srcDir = tableBatchDir(s"pcalive:$d@$k", emb, "vec_id", k)
    val embSchema = emb.schema
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("epoch", IntegerType),
      StructField("vec_id", LongType),
      StructField("p1", DoubleType), StructField("p2", DoubleType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "vec_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          locally {
            val e = batchId.toInt + 1
            val hi = monotoneBatchBounds(batch, "vec_id",
              "stream_pca_live", prevMax).map(_._2)
              .getOrElse(prevMax.get())
            val (v1, v2) = pcaStateAdvance(ss, root, e, batch)
            val prefix = embeddings(ss, d).filter(col("vec_id") <= hi)
            graft.operators.PcaOps.projectArrays(
                graft.operators.PcaOps.centeredArrays(prefix), v1, v2)
              .select(lit(e).as("epoch"), col("vec_id"), col("p1"),
                col("p2"))
              .write.mode("append").parquet(outDir)
            nBatches.set(e)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(outSchema).parquet(outDir).distinct()
      .orderBy(col("epoch"), col("vec_id")), nBatches.get())
  }

  /** §2.I streaming OUTLIER QUARANTINE (round-13 add): the live face
    * of `llm_embedding_outliers` riding the SAME sufficient-statistics
    * state as [[pcaLiveRunAt]] (shared [[pcaStateAdvance]]) — each
    * epoch advances the (Σxxᵀ, Σx, n) state with its batch only,
    * derives the model by the exact integer identity, and re-selects
    * the prefix's top-25 off-plane residuals (the quarantine list a
    * curation pipeline re-publishes as its model sharpens; an
    * early-epoch "outlier" can LEAVE the list when later data makes
    * its direction mainstream — epoch-keyed output, not append-only
    * verdicts). Per-epoch ≡ `llm_embedding_outliers` on the prefix. */
  private[graft] def outliersLiveRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try outliersLiveRunAt(s, d, k, registeredScratchDir("graft_outl_"),
      ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[outliersLiveRun]] — the [[pcaLiveRunAt]]
    * skeleton with the quarantine emit. */
  private[graft] def outliersLiveRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val srcDir = tableBatchDir(s"pcalive:$d@$k", emb, "vec_id", k)
    val embSchema = emb.schema
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("epoch", IntegerType),
      StructField("vec_id", LongType),
      StructField("p1", DoubleType), StructField("p2", DoubleType),
      StructField("resid", DoubleType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "vec_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          locally {
            val e = batchId.toInt + 1
            val hi = monotoneBatchBounds(batch, "vec_id",
              "stream_outliers_live", prevMax).map(_._2)
              .getOrElse(prevMax.get())
            val (v1, v2) = pcaStateAdvance(ss, root, e, batch)
            val prefix = embeddings(ss, d).filter(col("vec_id") <= hi)
            graft.operators.PcaOps.outlierSelect(
                graft.operators.PcaOps.centeredArrays(prefix), v1, v2)
              .select(lit(e).as("epoch"), col("vec_id"), col("p1"),
                col("p2"), col("resid"))
              .write.mode("append").parquet(outDir)
            nBatches.set(e)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(outSchema).parquet(outDir).distinct()
      .orderBy(col("epoch"), col("resid").desc, col("vec_id")),
      nBatches.get())
  }

  private[graft] def annLiveRun(s: SparkSession, d: String, k: Int,
      nq: Int = 10): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try annLiveRunAt(s, d, k, registeredScratchDir("graft_annl_"), ckpt,
      nq = nq)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[annLiveRun]]: `root` holds the epoch-versioned
    * quantizer stages (`cent_v<e>`) and the append verdict sink
    * (`out/`); `ckpt` is the caller-owned checkpoint; `failBeforeEpoch`
    * injects a [[PlannedIngestKill]] at the top of the given (1-based)
    * epoch. */
  private[graft] def annLiveRunAt(s: SparkSession, d: String, k: Int,
      root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue, nq: Int = 10)
      : (DataFrame, Int) = {
    graft.functions.CosineSimilarity.register(s)
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val srcDir = tableBatchDir(s"annlive:$d@$k", emb, "vec_id", k)
    val embSchema = emb.schema
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_label",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val verdictSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("epoch",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec_id2",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sim",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rn",
        org.apache.spark.sql.types.IntegerType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "vec_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          graft.functions.CosineSimilarity.register(ss)
          // An EMPTY epoch serves the UNCHANGED prefix (hi = prior max):
          // the quantizer re-publishes and the static query set is
          // re-answered under the new epoch number — mirror e equals
          // mirror e-1 with epoch = e, and nBatches always advances
          // (r12 advice: the skip undercounted the batch count and
          // would break k-epoch oracle parity on an empty slice).
          locally {
            val hi = monotoneBatchBounds(batch, "vec_id",
              "stream_ann_live", prevMax).map(_._2)
              .getOrElse(prevMax.get())
            // the index version visible at this epoch: the id-ordered
            // prefix up to the batch's own high watermark (the static
            // base table filtered — equal to the union of staged
            // batches 0..b, with no self-append read hazard)
            val prefix = embeddings(ss, d).filter(col("vec_id") <= hi)
            val centDir = s"$root/cent_v${batchId + 1}"
            graft.operators.AnnOps.centroids(prefix)
              .write.mode("overwrite").parquet(centDir)
            val cent = ss.read.schema(centSchema).parquet(centDir)
            val queries = embeddings(ss, d).filter(col("vec_id") < nq)
              .select(col("vec_id").as("q_id"),
                col("embedding").as("q_vec"))
            graft.operators.AnnOps
              .annIvfVerdictsCore(queries, prefix, cent)
              .select(lit(batchId.toInt + 1).as("epoch"), col("vec_id"),
                col("vec_id2"), col("sim"), col("rn"))
              .write.mode("append").parquet(outDir)
            nBatches.set(batchId.toInt + 1)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(verdictSchema).parquet(outDir).distinct()
      .orderBy(col("epoch"), col("vec_id"), col("rn")), nBatches.get())
  }

  /** §2.I streaming SEMANTIC-DEDUP INGEST (round-12 add): SemDeDup as
    * a live corpus build — the one major batch pipeline op that still
    * lacked a streaming twin after the round-12 CCNet ingest. The
    * quantizer is FROZEN at stream start (the published-artifact
    * pattern; trained on the streamed corpus per the batch op's
    * self-trained contract): the adaptive sub-k-means' ASSIGNMENT
    * centroids (post-iteration-1 C1 — what the batch op's final argmax
    * ranks against) and the final per-cell c_sim centroids are staged
    * to parquet via
    * [[graft.operators.TrainingDataOps.semanticCellsFull]]. Each
    * id-ordered micro-batch then: assigns its vectors (broadcast C1
    * argmax for refined labels, plain label otherwise — reproducing
    * the batch op's assignment verbatim), computes c_sim against the
    * staged cell centroid, and recomputes verdicts for the AFFECTED
    * cells only from their full membership (prior members from the
    * append-only per-cell index + the batch), carrying every untouched
    * cell's verdicts forward from the batchId-keyed versioned state.
    * Exactness is the cell-locality theorem
    * ([[graft.operators.TrainingDataOps.semanticCellVerdicts]]):
    * verdicts depend only on cell-mates under a frozen quantizer, so
    * the final state ≡ `llm_semantic_dedup` over the whole corpus and
    * the oracle is that op's mirror VERBATIM — unlike arrival-frozen
    * designs, a later-arriving vector that precedes existing members
    * in the (c_sim, vec_id) keep order correctly FLIPS their verdicts
    * when its cell recomputes. Scale: per epoch O(Σ affected-cell
    * members² at rep level) pair work + an O(corpus-so-far) state
    * carry-forward write (the keep_best-documented once-per-epoch
    * shape); the member index is append-only. Replay + restart: state
    * keyed on batchId with mode=overwrite, member-index duplicate
    * appends absorbed by the read-side distinct(), assignment/verdicts
    * deterministic functions of (batch, staged model, committed
    * index). */
  private[graft] def semanticIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try semanticIngestRunAt(s, d, k, registeredScratchDir("graft_semi_"),
      ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[semanticIngestRun]]: `root` holds the staged
    * quantizer (`qassign/` = C1, `qcents/` = final cell centroids),
    * the append-only member index (`members/`) and the batchId-keyed
    * versioned verdict state (`state_v*`); `ckpt` is the caller-owned
    * checkpoint; `failBeforeEpoch` injects a [[PlannedIngestKill]] at
    * the top of the given (1-based) epoch. */
  private[graft] def semanticIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue,
      quantizerTrainHi: Long = Long.MaxValue): (DataFrame, Int) = {
    graft.functions.CosineSimilarity.register(s)
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    // `quantizerTrainHi` (probe-only; the registered path always
    // trains on the full corpus) freezes the staged quantizer on the
    // id-prefix ≤ hi — the geometry-generation rollover experiment:
    // the stream then grows the corpus PAST the population the
    // quantizer was sized for, and the per-epoch affected-cell cost
    // curve prices the frozen-geometry degradation (BASELINE.md
    // "Geometry-generation rollover"). Cell-locality still holds for
    // whatever quantizer is frozen, so within the generation the
    // ingest semantics stay exact — only the CELL SIZING drifts.
    val qTrain =
      if (quantizerTrainHi == Long.MaxValue) emb
      else emb.filter(col("vec_id") <= quantizerTrainHi)
    val srcDir = tableBatchDir(s"semi:$d@$k", emb, "vec_id", k)
    val embSchema = emb.schema
    val qaDir = s"$root/qassign"
    val qcDir = s"$root/qcents"
    val memberDir = s"$root/members"
    Files.createDirectories(java.nio.file.Paths.get(memberDir))
    // frozen quantizer model (idempotent overwrites of deterministic
    // tables): C1 empty when no cell is oversized — every label then
    // routes through the plain branch
    graft.operators.TrainingDataOps.semanticCellsFull(s, qTrain) match {
      case Some((_, cents, c1)) =>
        c1.write.mode("overwrite").parquet(qaDir)
        cents.write.mode("overwrite").parquet(qcDir)
      case None =>
        qTrain.select(col("label"), lit(0L).as("j"),
            transform(col("embedding"), x => x.cast("double")).as("cvec"))
          .filter(lit(false))
          .write.mode("overwrite").parquet(qaDir)
        graft.operators.AnnOps.centroids(qTrain)
          .select(col("c_label").cast("long").as("cell"), col("centroid"))
          .write.mode("overwrite").parquet(qcDir)
    }
    import org.apache.spark.sql.types._
    val acSchema = StructType(Seq(StructField("label", IntegerType),
      StructField("j", LongType),
      StructField("cvec", ArrayType(DoubleType))))
    val fcSchema = StructType(Seq(StructField("cell", LongType),
      StructField("centroid", ArrayType(DoubleType))))
    val idxSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("cell", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("c_sim", DoubleType)))
    val stateSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("cluster_id", LongType),
      StructField("c_sim", DoubleType),
      StructField("kept", BooleanType),
      StructField("dup_of", LongType)))
    // state_v0: the empty pre-stream verdict table (idempotent)
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      stateSchema).write.mode("overwrite").parquet(s"$root/state_v0")
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "vec_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          graft.functions.CosineSimilarity.register(ss)
          val stateIn = s"$root/state_v$batchId"
          val stateOut = s"$root/state_v${batchId + 1}"
          monotoneBatchBounds(batch, "vec_id",
              "stream_semantic_ingest", prevMax) match {
            case Some((_, hi)) =>
              val ac = ss.read.schema(acSchema).parquet(qaDir)
              val fc = ss.read.schema(fcSchema).parquet(qcDir)
              val refined = batch.join(broadcast(ac), Seq("label"))
                .withColumn("cs",
                  round(expr("cosine_sim(embedding, cvec)"), 6))
                .groupBy(col("vec_id"), col("label"))
                .agg(expr("max_by(j, struct(cs, -j))").as("j"))
                .select(col("vec_id"),
                  ((col("label") + lit(1)).cast("long") * lit(1048576L)
                    + col("j")).as("cell"))
              val plain = batch.join(
                  broadcast(ac.select(col("label")).distinct()),
                  Seq("label"), "left_anti")
                .select(col("vec_id"), col("label").cast("long").as("cell"))
              val batchIdx = batch.select(col("vec_id"), col("embedding"))
                .join(refined.unionByName(plain), Seq("vec_id"))
                .join(broadcast(fc), Seq("cell"))
                .withColumn("c_sim",
                  round(expr("cosine_sim(embedding, centroid)"), 6))
                .select(col("vec_id"), col("cell"), col("embedding"),
                  col("c_sim"))
              batchIdx.persist()
              try {
                val prior =
                  ss.read.schema(idxSchema).parquet(memberDir)
                val affected = batchIdx.select(col("cell")).distinct()
                // distinct AFTER the affected-cell semi-join (r17,
                // guide §2.3): the replay-dedup distinct used to run
                // over the FULL member index before the filter — a
                // whole-index exchange per epoch that grows with the
                // corpus; folding it into the post-union distinct
                // dedups exactly the same rows (rows outside affected
                // cells never reach the recompute either way, and a
                // replayed epoch's full-row duplicates still fold)
                val members = prior
                  .join(affected, Seq("cell"), "left_semi")
                  .unionByName(batchIdx).distinct()
                val affVerd = graft.operators.TrainingDataOps
                  .semanticCellVerdicts(members)
                val carried = ss.read.schema(stateSchema).parquet(stateIn)
                  .join(affected.select(col("cell").as("cluster_id")),
                    Seq("cluster_id"), "left_anti")
                  // the USING join fronts cluster_id — restore the
                  // contract order so the staged files read naturally
                  .select(col("vec_id"), col("cluster_id"),
                    col("c_sim"), col("kept"), col("dup_of"))
                carried.unionByName(affVerd
                    .select(col("vec_id"), col("cluster_id"),
                      col("c_sim"), col("kept"), col("dup_of")))
                  .write.mode("overwrite").parquet(stateOut)
                // index append LAST (the refreshByPath write-order
                // lesson: every frame above descends from the
                // memberDir read)
                batchIdx.write.mode("append").parquet(memberDir)
                nBatches.set(batchId.toInt + 1)
                prevMax.set(hi)
              } finally batchIdx.unpersist()
            case None =>
              // empty epoch: advance the version chain unchanged
              ss.read.schema(stateSchema).parquet(stateIn)
                .write.mode("overwrite").parquet(stateOut)
              nBatches.set(batchId.toInt + 1)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(stateSchema).parquet(s"$root/state_v${nBatches.get()}")
      .orderBy(col("vec_id")), nBatches.get())
  }

  /** §2.I streaming LATE-DATA SIDE OUTPUT (round-13 add, past the
    * asked list — Flink's `allowedLateness(L)` +
    * `sideOutputLateData(tag)`, the one classic DataStream surface
    * piece the inventory still lacked): events arrive in MOD-k slices
    * (every micro-batch spans the full event-time range —
    * [[tableBatchDirMod]]; the id-range staging can never be late
    * because ts is monotone in id), the op tracks the running
    * watermark (max event-time ms seen in COMMITTED epochs, the
    * delay-0 convention every D7 op uses), and a row whose
    * ts + 60 000 ms (the allowed lateness) is still below the
    * watermark at its arrival epoch is diverted to the SIDE sink with
    * its epoch + the watermark that convicted it, instead of being
    * silently dropped; on-time rows roll into a per-epoch main-sink
    * count (the "window pipeline continues" half, read by the spec).
    * Oracle: ONE SQL — a row's epoch is id % k + 1 and the epoch
    * watermark is the max ms over earlier slices, both recomputable
    * from the static table. Scale: the watermark state is ONE row,
    * versioned per epoch (idempotent overwrite keyed by batchId — the
    * exactly-once idiom), the split is a per-row comparison, and the
    * side sink is append-only; replays fold under the read-side
    * distinct(). */
  private[graft] def sideOutputLateRun(s: SparkSession, d: String,
      k: Int): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try sideOutputLateRunAt(s, d, k,
      registeredScratchDir("graft_late_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Allowed lateness of the side-output op, ms. */
  private[graft] val SideOutputLatenessMs = 60000L

  /** Resumable core of [[sideOutputLateRun]]: `root` holds the
    * epoch-versioned watermark state (`wm_v<e>`, one row), the late
    * SIDE sink (`side/`) and the on-time main-sink counts (`main/`);
    * `ckpt` is the caller-owned checkpoint; `failBeforeEpoch` injects
    * a [[PlannedIngestKill]] at the top of the given (1-based)
    * epoch. */
  private[graft] def sideOutputLateRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      expr("ts div 1000000").as("ts_ms"))
    val srcDir = tableBatchDirMod(s"late:$d@$k", ev, "event_id", k)
    val evSchema = ev.schema
    val sideDir = s"$root/side"
    val mainDir = s"$root/main"
    Seq(sideDir, mainDir).foreach(p =>
      Files.createDirectories(java.nio.file.Paths.get(p)))
    import org.apache.spark.sql.types._
    val wmSchema = StructType(Seq(StructField("wm_ms", LongType)))
    val sideSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("ts_ms", LongType),
      StructField("epoch", IntegerType),
      StructField("wm_ms", LongType)))
    // wm_v0: no watermark yet (idempotent)
    s.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(Long.MinValue)), wmSchema)
      .write.mode("overwrite").parquet(s"$root/wm_v0")
    val nBatches = new AtomicInteger(committedBatches(ckpt))
    runIngestAt(s, ckpt) {
      s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          batch.persist()
          try {
            val wm = ss.read.schema(wmSchema)
              .parquet(s"$root/wm_v$batchId").head().getLong(0)
            val late = batch
              .filter(col("ts_ms") + lit(SideOutputLatenessMs) < lit(wm))
            late.select(col("event_id"), col("user_id"), col("ts_ms"),
                lit(batchId.toInt + 1).as("epoch"), lit(wm).as("wm_ms"))
              .write.mode("append").parquet(sideDir)
            batch.filter(col("ts_ms") + lit(SideOutputLatenessMs)
                >= lit(wm))
              .groupBy().agg(count(lit(1)).as("n_ontime"))
              .select(lit(batchId.toInt + 1).as("epoch"),
                col("n_ontime"))
              .write.mode("append").parquet(mainDir)
            // advance the watermark to cover this epoch (empty batch:
            // carry forward unchanged)
            val mx = batch.agg(max(col("ts_ms"))).head()
            val newWm =
              if (mx.isNullAt(0)) wm else math.max(wm, mx.getLong(0))
            ss.createDataFrame(
              java.util.Collections.singletonList(
                org.apache.spark.sql.Row(newWm)), wmSchema)
              .write.mode("overwrite").parquet(s"$root/wm_v${batchId + 1}")
            nBatches.set(batchId.toInt + 1)
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(sideSchema).parquet(sideDir).distinct()
      .orderBy(col("event_id")), nBatches.get())
  }

  /** §2.I streaming DSIR SCORING INGEST (round-13 add, past the asked
    * list — the serving twin of the new `llm_importance_weights`, the
    * [[perplexityBucketRunAt]] pattern): documents flow past a FROZEN
    * published DSIR model — the ≤1024-row λ grid (bkt → micro-nat
    * importance ratio), trained once at stream start exactly as the
    * batch op trains it (full-corpus raw counts, head-tercile target;
    * the shared `dsirDirectSrc`/`dsirBucketTfOf`/`dsirLambda`
    * builders) and staged to parquet. Each id-ordered micro-batch
    * explodes its OWN bigrams, hashes to buckets, joins the λ
    * FileScan (bkt-keyed equi-join, per-batch work O(batch bigrams))
    * and appends one (doc_id, n_bigrams, w_micro, log_weight) row per
    * doc. Per-doc independence + the frozen artifact ⇒ STRUCTURAL
    * batch invariance: the final table equals `llm_importance_weights`
    * verbatim and the oracle is that op's mirror. Replay + restart:
    * appends fold under the read-side distinct(), the artifact
    * re-stage is an idempotent overwrite of a deterministic table. */
  private[graft] def importanceIngestRun(s: SparkSession, d: String,
      k: Int): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try importanceIngestRunAt(s, d, k,
      registeredScratchDir("graft_dsir_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[importanceIngestRun]]: `root` holds the
    * staged λ grid (`lam/`) and the append sink (`out/`); `ckpt` is
    * the caller-owned checkpoint; `failBeforeEpoch` injects a
    * [[PlannedIngestKill]] at the top of the given (1-based) epoch. */
  private[graft] def importanceIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val srcDir = documentsBatchDir(s, d, k)
    val docsSchema = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .schema
    val lamDir = s"$root/lam"
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    // frozen model: the λ grid the batch op trains (idempotent
    // overwrite of a deterministic table; r16 — one shared-core
    // pipeline instead of an independent head pipeline + re-explode)
    graft.operators.TrainingDataOps.dsirLambdaArtifact(s, d)
      .write.mode("overwrite").parquet(lamDir)
    import org.apache.spark.sql.types._
    val lamSchema = StructType(Seq(StructField("bkt", LongType),
      StructField("lam", LongType)))
    val outSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n_bigrams", LongType),
      StructField("w_micro", LongType),
      StructField("log_weight", DoubleType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "doc_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          monotoneBatchBounds(batch, "doc_id",
              "stream_importance_ingest", prevMax).foreach {
            case (_, hi) =>
              val lam = ss.read.schema(lamSchema).parquet(lamDir)
              val scored = graft.operators.TrainingDataOps
                .dsirBucketTfOf(batch.select(col("doc_id"), col("text")))
                .join(broadcast(lam), Seq("bkt"))
                .groupBy(col("doc_id"))
                .agg(sum(col("tf") * col("lam")).as("w_micro"),
                  sum(col("tf")).as("n_bigrams"))
              batch.select(col("doc_id"))
                .join(scored, Seq("doc_id"), "left")
                .select(col("doc_id"),
                  coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
                  col("w_micro"),
                  (col("w_micro") / lit(1e6)).as("log_weight"))
                .write.mode("append").parquet(outDir)
              nBatches.set(batchId.toInt + 1)
              prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(outSchema).parquet(outDir).distinct()
      .orderBy(col("doc_id")), nBatches.get())
  }

  /** §2.I streaming BPE TOKEN-COUNT INGEST (round-13 add): documents
    * token-counted live against a FROZEN published tokenizer — the
    * [[importanceIngestRunAt]] pattern with the model artifact =
    * `llm_bpe_train`'s final segmentation table (w, n_tok), trained
    * once at stream start exactly as the batch trainer trains it
    * (shared [[graft.operators.BpeOps.segTable]]) and staged to
    * parquet. Each id-ordered micro-batch explodes its OWN words and
    * broadcast-joins the seg FileScan (word-keyed equi-join, per-batch
    * work O(batch words); the vocab build side is bounded by distinct
    * corpus words) — the deployment shape of tokenizer-aware ingest
    * metering (every arriving document priced in tokens before
    * packing/quota decisions). Per-doc independence + the frozen
    * artifact ⇒ STRUCTURAL batch invariance: the final table equals
    * `llm_bpe_tokenize` verbatim and the oracle is that op's mirror.
    * Replay + restart: appends fold under the read-side distinct(),
    * the artifact re-stage is an idempotent overwrite of a
    * deterministic table. */
  private[graft] def bpeIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try bpeIngestRunAt(s, d, k, registeredScratchDir("graft_bpe_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[bpeIngestRun]]: `root` holds the staged seg
    * table (`seg/`) and the append sink (`out/`); `ckpt` is the
    * caller-owned checkpoint; `failBeforeEpoch` injects a
    * [[PlannedIngestKill]] at the top of the given (1-based) epoch. */
  private[graft] def bpeIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val srcDir = documentsBatchDir(s, d, k)
    val docsSchema = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .schema
    val segDir = s"$root/seg"
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    // frozen model: the trained tokenizer's (w, n_tok) table
    // (idempotent overwrite of a deterministic table)
    graft.operators.BpeOps.segTable(s, d)
      .write.mode("overwrite").parquet(segDir)
    import org.apache.spark.sql.types._
    val segSchema = StructType(Seq(StructField("w", StringType),
      StructField("n_tok", LongType)))
    val outSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n_words", LongType),
      StructField("n_tokens", LongType),
      StructField("tokens_per_word", DoubleType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "doc_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          monotoneBatchBounds(batch, "doc_id", "stream_bpe_ingest",
              prevMax).foreach { case (_, hi) =>
            val seg = ss.read.schema(segSchema).parquet(segDir)
            batch.select(col("doc_id"),
                explode(split(col("text"), " ")).as("w"))
              .filter(col("w") =!= "")
              .join(broadcast(seg), Seq("w"))
              .groupBy(col("doc_id"))
              .agg(count(lit(1)).as("n_words"),
                sum(col("n_tok")).as("n_tokens"))
              .select(col("doc_id"), col("n_words"), col("n_tokens"),
                round(col("n_tokens") / col("n_words"), 6)
                  .as("tokens_per_word"))
              .write.mode("append").parquet(outDir)
            nBatches.set(batchId.toInt + 1)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(outSchema).parquet(outDir).distinct()
      .orderBy(col("doc_id")), nBatches.get())
  }

  /** §2.I streaming PERCEPTUAL-HASH dedup INGEST (round-14 add): the
    * multimodal modality's continuous-arrival dedup — the
    * [[minhashIngestRunAt]] pattern applied to `mm_phash_dedup`'s
    * aHash. Each id-ordered micro-batch computes its phashes in one
    * partition-mapped stage, probes the persisted signature index +
    * its own earlier rows
    * ([[graft.operators.Multimodal.phashVerdictsCore]] — dup_of(n) =
    * min{c < n admissible}, batch-boundary-invariant by the monotone
    * ids), appends verdicts, and stages the LOSSLESSLY COMPACTED
    * index (one row per (fp, fmt, n_bytes) signature, the group
    * minimum — O(distinct signatures) forever however many duplicate
    * assets stream past). The oracle recomputes the horizon-free
    * truth globally in one SQL. */
  private[graft] def phashIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try phashIngestRunAt(s, d, k,
      registeredScratchDir("graft_phi_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[phashIngestRun]] — the minhash ingest's
    * recovery contract verbatim (versioned idx chain, empty-batch
    * copy-forward, monotone-arrival guard, PlannedIngestKill hook). */
  private[graft] def phashIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    import org.apache.spark.sql.types._
    val srcDir = tableBatchDir(s"phashdocs:$d@$k",
      documents(s, d).select(col("doc_id"), col("source"), col("text")),
      "doc_id", k)
    val docSchema = documents(s, d)
      .select(col("doc_id"), col("source"), col("text")).schema
    val idxSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("fmt", StringType),
      StructField("n_bytes", IntegerType),
      StructField("fp", LongType)))
    val verdictSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("fmt", StringType),
      StructField("stage", StringType),
      StructField("dup_of", LongType)))
    val outDir = s"$root/out"
    val idxRoot = s"$root/idx"
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "doc_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          val idx =
            if (batchId == 0) emptyFrame(ss, idxSchema)
            else ss.read.schema(idxSchema).parquet(s"$idxRoot/v$batchId")
          val nextDir = s"$idxRoot/v${batchId + 1}"
          monotoneBatchBounds(batch, "doc_id",
              "stream_phash_ingest", prevMax) match {
            case None =>
              idx.write.mode("overwrite").parquet(nextDir)
            case Some((_, hi)) =>
              val batchPh = graft.operators.Multimodal.phashOf(batch)
              batchPh.persist()
              try {
                graft.operators.Multimodal
                  .phashVerdictsCore(batchPh, idx)
                  .write.mode("append").parquet(outDir)
                graft.operators.Multimodal
                  .compactPhashIndex(idx.unionByName(batchPh))
                  .write.mode("overwrite").parquet(nextDir)
                prevMax.set(hi)
              } finally batchPh.unpersist()
          }
          nBatches.set(batchId.toInt + 1)
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    val verdicts =
      if (!new java.io.File(outDir).isDirectory)
        emptyFrame(s, verdictSchema)
      else s.read.schema(verdictSchema).parquet(outDir).distinct()
    (verdicts.orderBy(col("doc_id")), nBatches.get())
  }

  /** §2.I streaming DYNAMIC RULES (round-13 add, the r12 verdict's
    * item 5 — Flink's broadcast-state pattern: a small rules stream
    * broadcast to every task, events classified against the rules
    * version CURRENT at processing time). A tiny per-event-type
    * threshold rule table is re-published to parquet before every
    * micro-batch by a second writer — the staged-artifact pattern in
    * reverse, like [[temporalJoinRunAt]]'s dim — re-READ per batch
    * (the broadcast-state refresh) and broadcast-joined on event_type;
    * each event's verdict is `flag` iff value ≥ the threshold of ITS
    * epoch's rules version. Rule set version e is deterministic:
    * thr(type, e) = 15·e + 10·code(type), except the `error` rule
    * FLIPS at epoch 3 (always-flag thr 0 → never-flag thr 1000 — the
    * rule-change the spec pins; a static join cannot show it). Oracle:
    * ONE SQL — an event's epoch is its staged id-slice, recomputable
    * from max(event_id), so the per-epoch rules inline as CASE
    * arithmetic (all exact small-int double products). Scale: rules
    * are O(|types|) rows broadcast per batch — the fact stream never
    * shuffles; a real deployment swaps the staged dir for a compacted
    * rules topic, same plan. Replay/restart: the rules re-publish is
    * an idempotent overwrite keyed by epoch, verdict re-appends fold
    * under the read-side distinct(). */
  private[graft] def rulesApplyRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try rulesApplyRunAt(s, d, k, registeredScratchDir("graft_rules_"),
      ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[rulesApplyRun]]: `root` holds the
    * epoch-versioned rules stages (`rules_v<e>`) and the append
    * verdict sink (`out/`); `ckpt` is the caller-owned checkpoint;
    * `failBeforeEpoch` injects a [[PlannedIngestKill]] at the top of
    * the given (1-based) epoch. */
  private[graft] def rulesApplyRunAt(s: SparkSession, d: String, k: Int,
      root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val ev = events(s, d).select(col("event_id"), col("event_type"),
      col("value"))
    val srcDir = tableBatchDir(s"rules:$d@$k", ev, "event_id", k)
    val evSchema = ev.schema
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    import org.apache.spark.sql.types._
    val rulesSchema = StructType(Seq(StructField("event_type", StringType),
      StructField("thr", DoubleType)))
    val outSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("epoch", IntegerType),
      StructField("thr", DoubleType),
      StructField("action", StringType)))
    // rule set version e — deterministic, so a replayed publish is an
    // idempotent overwrite; every product below is exact small-int
    // double arithmetic, identical to the oracle's CASE expressions
    val typeCodes =
      Seq("click" -> 0, "purchase" -> 1, "view" -> 2, "error" -> 3,
        "signup" -> 4)
    def rulesFor(ss: SparkSession, e: Int): DataFrame = {
      import ss.implicits._
      typeCodes.map { case (t, c) =>
        val thr =
          if (t == "error") { if (e <= 2) 0.0 else 1000.0 }
          else 15.0 * e + 10.0 * c
        (t, thr)
      }.toDF("event_type", "thr")
    }
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "event_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          monotoneBatchBounds(batch, "event_id",
              "stream_rules_apply", prevMax).foreach { case (_, hi) =>
            // SECOND WRITER: publish this epoch's rules version, then
            // re-read it — the broadcast-state refresh
            val rulesDir = s"$root/rules_v${batchId + 1}"
            rulesFor(ss, batchId.toInt + 1)
              .write.mode("overwrite").parquet(rulesDir)
            val rules = ss.read.schema(rulesSchema).parquet(rulesDir)
            batch.join(broadcast(rules), Seq("event_type"))
              .select(col("event_id"), col("event_type"),
                lit(batchId.toInt + 1).as("epoch"), col("thr"),
                when(col("value") >= col("thr"), lit("flag"))
                  .otherwise(lit("pass")).as("action"))
              .write.mode("append").parquet(outDir)
            nBatches.set(batchId.toInt + 1)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(outSchema).parquet(outDir).distinct()
      .orderBy(col("event_id")), nBatches.get())
  }

  /** §2.I streaming TEMPORAL TABLE JOIN (round-13 add, the r12
    * verdict's item 1 — the Flink event-time temporal-table-join
    * analog, `FOR SYSTEM_TIME AS OF e.ts`): each event enriched with
    * the SCD2 dim VERSION valid at its EVENT TIME, against a dim a
    * SECOND WRITER advances between micro-batches (the staged-artifact
    * pattern in reverse — the artifact CHANGES). The dim is the
    * `merge_scd2` history extended to a k-version event-time timeline:
    * customers with c_custkey % 7 = 0 take version v with balance
    * dec(c_acctbal · (10+v)/10) valid [B(v+1), B(v+2)) — B(e) = the
    * min event time of staged id-slice e−1, the epoch boundary in
    * EVENT time — while everyone else keeps version 0 open forever.
    * Before epoch e processes, the writer publishes the history after
    * e−1 updates to `dim_v{e}` (idempotent overwrite of a
    * deterministic table); the batch then BROADCAST-joins its events
    * against that version set with the validity interval in the
    * condition. EXACTNESS (≡ the one-shot interval join over the FULL
    * history, the D7 batch oracle): event ids are staged in id order
    * and `events.ts` is strictly monotone in event_id (verified at
    * all SFs), so every event of epoch e has ts ≥ B(e) — the newest
    * published interval containing its ts is FINAL; versions published
    * later only partition time the epoch's events have already passed.
    * The intervals partition [0, ∞) per customer, so each event joins
    * exactly one version. Scale: the dim is dim-sized (versions ≤ k ×
    * customers) and broadcast — the fact stream never shuffles; a
    * real deployment swaps the staged dir for the CDC-compacted dim
    * topic, same plan. Replay + restart: the dim re-publish is an
    * idempotent overwrite, duplicate verdict appends are absorbed by
    * the read-side distinct(), and a replayed epoch re-joins against
    * the identical dim version (deterministic function of e). */
  private[graft] def temporalJoinRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try temporalJoinRunAt(s, d, k, registeredScratchDir("graft_tpj_"),
      ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[temporalJoinRun]]: `root` holds the
    * epoch-versioned dim stages (`dim_v<e>`) and the append verdict
    * sink (`out/`); `ckpt` is the caller-owned checkpoint;
    * `failBeforeEpoch` injects a [[PlannedIngestKill]] at the top of
    * the given (1-based) epoch. */
  private[graft] def temporalJoinRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("ts_us"))
    val srcDir = tableBatchDir(s"tempo:$d@$k", ev, "event_id", k)
    val evSchema = ev.schema
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Update boundaries in EVENT time: B(u) = min ts of staged slice u
    // (u = 1..k-1) — k−1 one-time driver scalars off one pass over the
    // staged id-slice bounds (the stagedMaxId staging-cost class). The
    // oracle recomputes the identical bounds from max(event_id).
    val maxId = {
      val r = ev.agg(max(col("event_id"))).head()
      require(!r.isNullAt(0), "stream_temporal_join: empty events table")
      r.getLong(0)
    }
    def sliceLo(i: Int): Long = (maxId + 1) * i / k
    val bndRows = ev
      .select(col("ts_us"), (1 until k).foldLeft(lit(0)) { (acc, u) =>
        when(col("event_id") >= sliceLo(u), lit(u)).otherwise(acc)
      }.as("slice"))
      .filter(col("slice") >= 1)
      .groupBy(col("slice")).agg(min(col("ts_us")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(bndRows.size == k - 1,
      s"stream_temporal_join: empty staged slice (got ${bndRows.size} " +
        s"of ${k - 1} boundaries) — the version timeline needs every " +
        "slice populated")
    val bnds: Map[Int, Long] = bndRows

    import org.apache.spark.sql.types._
    val dimSchema = StructType(Seq(StructField("k", LongType),
      StructField("version", IntegerType),
      StructField("bal", DoubleType),
      StructField("valid_from", LongType),
      StructField("valid_to", LongType)))
    val outSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("version", IntegerType),
      StructField("bal", DoubleType)))

    // the SCD2 history after `u` updates — the dim the second writer
    // publishes before epoch u+1 (deterministic, so re-publish on
    // replay is exact)
    def dimAfter(ss: SparkSession, u: Int): DataFrame = {
      val cust = customer(ss, d)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal0"),
          (pmod(col("c_custkey"), lit(7)) === 0).as("upd"))
      val v0 = cust.select(col("k"), lit(0).as("version"),
        dec(col("bal0")).cast("double").as("bal"),
        lit(0L).as("valid_from"),
        when(col("upd") && lit(u >= 1), lit(bnds.getOrElse(1, 0L)))
          .otherwise(lit(null).cast("long")).as("valid_to"))
      (1 to u).foldLeft(v0) { (acc, v) =>
        // (10+v)/10.0 is a correctly-rounded IEEE division — the same
        // double as the SQL literal 1.v the oracle multiplies by
        val m = (10.0 + v) / 10.0
        acc.unionByName(cust.filter(col("upd"))
          .select(col("k"), lit(v).as("version"),
            dec(col("bal0") * lit(m)).cast("double").as("bal"),
            lit(bnds(v)).as("valid_from"),
            (if (v < u) lit(bnds(v + 1)) else lit(null).cast("long"))
              .as("valid_to")))
      }
    }

    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "event_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          monotoneBatchBounds(batch, "event_id",
              "stream_temporal_join", prevMax).foreach { case (_, hi) =>
            // SECOND WRITER: advance the dim to the version set
            // visible at this epoch (history after batchId updates)
            val dimDir = s"$root/dim_v${batchId + 1}"
            dimAfter(ss, batchId.toInt).write.mode("overwrite")
              .parquet(dimDir)
            val dim = ss.read.schema(dimSchema).parquet(dimDir)
            batch.join(broadcast(dim),
                col("user_id") === col("k") &&
                  col("ts_us") >= col("valid_from") &&
                  (col("valid_to").isNull ||
                    col("ts_us") < col("valid_to")), "inner")
              .select(col("event_id"), col("user_id"), col("version"),
                col("bal"))
              .write.mode("append").parquet(outDir)
            nBatches.set(batchId.toInt + 1)
            prevMax.set(hi)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(outSchema).parquet(outDir).distinct()
      .orderBy(col("event_id")), nBatches.get())
  }

  /** §2.I streaming CCNet INGEST (round-12 add, the r11 verdict's
    * item 4): the CCNet gate as a LIVE corpus build, completing the
    * batch-pipeline/streaming-twin symmetry for the composed pipeline.
    * Frozen artifacts staged once at stream start (the
    * [[perplexityBucketRunAt]] pattern, trained exactly as
    * `llm_ccnet_pipeline` trains them — on full-corpus survivors, per
    * the batch op's self-trained contract): the lang-ID grid, the
    * per-predicted-lang bigram LM grid, and the per-lang tercile
    * cutoffs ([[graft.operators.TrainingDataOps.ccnetArtifacts]]).
    * Exact-dedup state carried ACROSS batches (the ingest-index
    * pattern): an append-only (text, keeper) survivor index; each
    * id-ordered batch folds keeper = least(index keeper, in-batch min),
    * so first arrival IS the global min-id keeper. Batch survivors are
    * classified against the staged lang-ID FileScan, scored against
    * the staged per-lang grid (bg-keyed equi-join, O(batch bigrams)),
    * and bucketed by the static cutoffs; dups emit (dup, keeper) —
    * one verdict row per doc, and the final table equals
    * `llm_ccnet_pipeline` verbatim (shared oracle). Replay + restart:
    * keeper folding through least() is idempotent when a replayed
    * epoch finds its own appended survivors in the index (keeper =
    * its own brep — the same verdict), duplicate index rows are
    * absorbed by the min-fold, duplicate verdict appends by the
    * readout's `distinct()`, and the artifact re-stage is an
    * idempotent overwrite of deterministic tables. */
  private[graft] def ccnetIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try ccnetIngestRunAt(s, d, k, registeredScratchDir("graft_ccn_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[ccnetIngestRun]]: `root` holds the staged
    * frozen artifacts (`langgrid/`, `lmgrid/`, `cuts/`), the
    * append-only survivor index (`seen/`) and the append verdict sink
    * (`out/`); `ckpt` is the caller-owned checkpoint; `failBeforeEpoch`
    * injects a [[PlannedIngestKill]] at the top of the given (1-based)
    * epoch. */
  private[graft] def ccnetIngestRunAt(s: SparkSession, d: String, k: Int,
      root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val srcDir = documentsBatchDir(s, d, k)
    val docsSchema = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .schema
    val lgDir = s"$root/langgrid"
    val lmDir = s"$root/lmgrid"
    val cutsDir = s"$root/cuts"
    val seenDir = s"$root/seen"
    val outDir = s"$root/out"
    Seq(seenDir, outDir).foreach(p =>
      Files.createDirectories(java.nio.file.Paths.get(p)))
    val (langGrid, lmGrid, cuts) =
      graft.operators.TrainingDataOps.ccnetArtifacts(s, d)
    langGrid.write.mode("overwrite").parquet(lgDir)
    lmGrid.write.mode("overwrite").parquet(lmDir)
    cuts.write.mode("overwrite").parquet(cutsDir)
    import org.apache.spark.sql.types._
    val lgSchema = StructType(Seq(StructField("m_lang", StringType),
      StructField("w", StringType), StructField("lp", DoubleType)))
    val lmSchema = StructType(Seq(StructField("plang", StringType),
      StructField("bg", StringType), StructField("lpm", LongType)))
    val cutsSchema = StructType(Seq(StructField("plang", StringType),
      StructField("b1", LongType), StructField("b2", LongType)))
    val seenSchema = StructType(Seq(StructField("text", StringType),
      StructField("keeper", LongType)))
    val verdictSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("status", StringType),
      StructField("dup_of", LongType),
      StructField("lang", StringType)))
    val n0 = committedBatches(ckpt)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "doc_id", n0))
    val nBatches = new AtomicInteger(n0)
    runIngestAt(s, ckpt) {
      s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          batch.persist()
          try monotoneBatchBounds(batch, "doc_id",
              "stream_ccnet_ingest", prevMax).foreach { case (_, hi) =>
            // r17 (guide §3.2 — reduce the big side before shuffling
            // it): the keeper fold used to aggregate the WHOLE
            // append-only survivor index per epoch; only batch texts
            // can ever match the left join below, so a broadcast
            // semi-join on the batch's text hashes prunes the index to
            // ≤ batch-distinct rows first — lossless (text equality ⇒
            // hash equality; a replayed epoch still finds its own
            // survivors through the same prune)
            // no distinct: the broadcast hash build dedups keys anyway,
            // and the batch is already persisted — one cached scan
            val bTexts = batch
              .select(xxhash64(col("text")).as("th"))
            val seen = ss.read.schema(seenSchema).parquet(seenDir)
              .join(broadcast(bTexts),
                xxhash64(col("text")) === col("th"), "left_semi")
              .groupBy(col("text")).agg(min(col("keeper")).as("prev"))
            val bGroups = batch.groupBy(col("text"))
              .agg(min(col("doc_id")).as("brep"))
            val staged = batch.select(col("doc_id"), col("text"))
              .join(bGroups, Seq("text"))
              .join(seen, Seq("text"), "left")
              // least() makes a mid-epoch replay exact with no guard:
              // a replayed survivor finds ITSELF in the index
              // (prev == brep) and folds to the same keeper
              .withColumn("keeper",
                least(coalesce(col("prev"), col("brep")), col("brep")))
            staged.persist()
            try {
              val survB = staged
                .filter(col("doc_id") === col("keeper"))
                .select(col("doc_id"), col("text"))
              val lg = ss.read.schema(lgSchema).parquet(lgDir)
              val lm = ss.read.schema(lmSchema).parquet(lmDir)
              val cts = ss.read.schema(cutsSchema).parquet(cutsDir)
              val predB = graft.operators.TrainingDataOps.langIdArgmax(
                  graft.operators.TrainingDataOps.langIdTfOf(survB), lg)
                .select(col("gid").as("doc_id"),
                  col("predicted").as("plang"))
              val sc = graft.operators.TrainingDataOps
                .ngramLmTfOf(survB)
                .join(predB, Seq("doc_id"))
                .join(lm, Seq("plang", "bg"))
                .withColumn("c", col("tf") * col("lpm"))
                .groupBy(col("doc_id"))
                .agg((-sum(col("c"))).as("p"),
                  sum(col("tf")).as("n_bigrams"))
              val baseB = predB
                .join(sc, Seq("doc_id"), "left")
                .select(col("doc_id"), col("plang"), col("p"),
                  coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
              val usBin = expr(
                "((2 * p + n_bigrams) div (2 * n_bigrams)) div 10000")
              val gate = baseB.join(broadcast(cts), Seq("plang"), "left")
                .select(col("doc_id"),
                  when(col("n_bigrams") === lit(0L), lit("na"))
                    .when(usBin <= col("b1"), lit("head"))
                    .when(usBin <= col("b2"), lit("middle"))
                    .otherwise(lit("tail")).as("status"),
                  lit(null).cast("long").as("dup_of"),
                  col("plang").as("lang"))
              val dups = staged.filter(col("doc_id") =!= col("keeper"))
                .select(col("doc_id"), lit("dup").as("status"),
                  col("keeper").as("dup_of"),
                  lit(null).cast("string").as("lang"))
              // WRITE ORDER: verdicts first — the survivor-index
              // append below fires refreshByPath on the path every
              // frame here descends from (the embeddingIngestRun
              // lesson)
              gate.unionByName(dups).write.mode("append").parquet(outDir)
              staged.filter(col("doc_id") === col("keeper"))
                .select(col("text"), col("doc_id").as("keeper"))
                .write.mode("append").parquet(seenDir)
              nBatches.set(batchId.toInt + 1)
              prevMax.set(hi)
            } finally staged.unpersist()
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    (s.read.schema(verdictSchema).parquet(outDir).distinct()
      .orderBy(col("doc_id")), nBatches.get())
  }

  /** §2.I streaming keep-best INGEST (round-10 add): the SELECTION
    * family's live deployment, completing the ingest trio (sketch:
    * [[minhashIngestRun]]; embedding: [[embeddingIngestRun]]; keeper
    * selection: this). Each id-ordered micro-batch advances the
    * persisted keep-best epoch
    * ([[graft.operators.LlmOps.advanceEpochFrom]]): the batch pays only
    * its own clustering — exact+blocked-Jaccard probe against the
    * persisted survivor index, a batch-sized jumpClosure with prior
    * cluster ids as terminal labels, keeper argmax contending only
    * prior keepers of affected clusters — and the advanced (state,
    * survivor-index) pair is staged to versioned parquet for the next
    * trigger (a pointer swap per epoch; versioning also sidesteps the
    * refreshByPath self-append hazard documented at
    * [[embeddingIngestRun]]). By the pinned multi-epoch associativity
    * (IncrementalPersistSpec: advance(advance(A,+B),+C) ≡ from-scratch
    * over A∪B∪C) the FINAL state equals a from-scratch keep-best over
    * the whole corpus — so the oracle is `llm_dedup_keep_best`'s own
    * recursive recompute, and a hash match re-proves the entire chain:
    * clusters, labels, quality and keeper churn across all k epochs.
    *
    * Scale posture: per batch O(batch · blocked candidates +
    * |affected clusters|); the state write is O(corpus so far) rows of
    * 4 scalars per epoch — the once-per-epoch cost the persisted ops
    * document, honest here because epochs are coarse in deployment
    * (daily), not per-second. Replay + restart (round 11, pinned by
    * StreamIngestSpec's kill and checkpoint-tamper tests): the state
    * version is KEYED ON batchId — the exactly-once idiom — and
    * written with mode=overwrite, so a replayed epoch re-reads the
    * same committed predecessor state_v(b)/surv_v(b) and atomically
    * re-materializes v(b+1), idempotent because the advanced state is
    * a deterministic function of (batch, prior state); a restart
    * recovers the committed count from the checkpoint and resumes
    * ([[keepBestIngestRunAt]]). Returns (final keep-best state ordered
    * by doc_id, number of micro-batches). */
  private[graft] def keepBestIngestRun(s: SparkSession, d: String, k: Int)
      : (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try keepBestIngestRunAt(s, d, k,
      registeredScratchDir("graft_kbi_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[keepBestIngestRun]]: `root` holds the
    * batchId-keyed state/survivor versions (`state_v{b}`/`surv_v{b}`);
    * `ckpt` is the caller-owned streaming checkpoint; `failBeforeEpoch`
    * injects a [[PlannedIngestKill]] at the top of the given (1-based)
    * epoch. An EMPTY committed batch advances the chain with an
    * unchanged copy so the successor's keyed read always finds its
    * predecessor — which also makes an all-empty stream land on an
    * empty state_v(k) instead of a missing-path readout. */
  private[graft] def keepBestIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val srcDir = documentsBatchDir(s, d, k)
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val docSchema = docs.schema
    // schema-only uses: survivorIndex is lazy selects (free); the state
    // schema is written out by hand because keepBestOf's CONSTRUCTION
    // runs the pointer-jump driver loop
    val survSchema = graft.operators.LlmOps
      .survivorIndex(docs.filter(lit(false))).schema
    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.DecimalType(38, 6)),
      org.apache.spark.sql.types.StructField("keep",
        org.apache.spark.sql.types.BooleanType)))
    val n0 = committedBatches(ckpt)
    val curVer = new AtomicInteger(n0)
    val prevMax = new java.util.concurrent.atomic.AtomicLong(
      stagedMaxId(s, srcDir, "doc_id", n0))
    runIngestAt(s, ckpt) {
      s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val ss = batch.sparkSession
          batch.persist()
          try {
            val v = batchId.toInt
            val state =
              if (v == 0) emptyFrame(ss, stateSchema)
              else ss.read.schema(stateSchema).parquet(s"$root/state_v$v")
            val surv =
              if (v == 0) emptyFrame(ss, survSchema)
              else ss.read.schema(survSchema).parquet(s"$root/surv_v$v")
            val (nextState, nextSurv) = monotoneBatchBounds(batch,
                "doc_id", "stream_keep_best_ingest", prevMax) match {
              case None => (state, surv) // empty batch: unchanged copy
              case Some((_, hi)) =>
                prevMax.set(hi)
                graft.operators.LlmOps
                  .advanceEpochFrom(ss, batch, state, surv)
            }
            // keyed on batchId + overwrite: a replayed epoch atomically
            // re-materializes the same deterministic content
            nextState.write.mode("overwrite")
              .parquet(s"$root/state_v${v + 1}")
            nextSurv.write.mode("overwrite")
              .parquet(s"$root/surv_v${v + 1}")
            curVer.set(v + 1)
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    val n = curVer.get()
    val finalState =
      if (n == 0) emptyFrame(s, stateSchema)
      else s.read.schema(stateSchema).parquet(s"$root/state_v$n")
    (finalState
      .select(col("doc_id"), col("cluster_id"),
        col("q").cast("double").as("quality"), col("keep"))
      .orderBy(col("doc_id")), n)
  }

  /** §2.I streaming decontamination INGEST (round-10 add): the
    * deployment regime `llm_decontaminate_bloom` exists for, run as a
    * LIVE stream — a FIXED benchmark suite (test shingle index + its
    * 1%-FPR Bloom sketch, staged ONCE at stream start) watches the
    * train corpus flow past in micro-batches. Per batch: the batch's
    * distinct-text train shingles pre-filter through the broadcast
    * sketch (pruning ~all non-matching shingles before any shuffle —
    * false positives only ADD candidates, which the exact join then
    * drops), join the static test grams, and append the surviving
    * (tkey, g) matches; the readout folds count-distinct per test doc,
    * so cross-batch duplicate matches collapse exactly. Uniquely in the
    * ingest quartet this op is ORDER-INDEPENDENT — train batches
    * commute (the train side only contributes to a gram-set union), so
    * there is no id-ordering guard, and the final table equals
    * `llm_decontaminate`'s one-shot answer: the oracle is shared
    * VERBATIM.
    *
    * Scale posture: per batch O(batch distinct-text grams) hash work +
    * a sketch-pruned ~test-sized join; state = the static index (one
    * localCheckpoint) + appended matches, bounded by the contamination
    * volume, not the corpus. Replay: the count-distinct readout is
    * idempotent under duplicate appends, so at-least-once delivery
    * needs no guard at all here. Returns (per-test-doc verdicts
    * ordered by doc_id, number of micro-batches). */
  private[graft] def decontaminateIngestRun(s: SparkSession, d: String,
      k: Int): (DataFrame, Int) = {
    val ckpt = tempCheckpointDir()
    try decontaminateIngestRunAt(s, d, k,
      registeredScratchDir("graft_di_"), ckpt)
    finally deleteRecursively(ckpt)
  }

  /** Resumable core of [[decontaminateIngestRun]]: the easiest resume
    * in the quartet — the append sink is the ONLY state and the
    * count-distinct readout is idempotent under duplicate appends, so
    * a kill at any point (including mid-append) resumes exactly with
    * no version keying and no ordering guard. `failBeforeEpoch`
    * injects a [[PlannedIngestKill]] at the top of the given epoch. */
  private[graft] def decontaminateIngestRunAt(s: SparkSession, d: String,
      k: Int, root: String, ckpt: String,
      failBeforeEpoch: Int = Int.MaxValue): (DataFrame, Int) = {
    val srcDir = documentsBatchDir(s, d, k)
    val docSchema = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .schema
    // the static benchmark-suite side, once per stream (eager
    // localCheckpoint: two consumers per batch + the sketch build)
    val (testGramsRaw, testMembers) =
      graft.operators.TrainingDataOps.testShingleIndex(documents(s, d))
    val testGrams = testGramsRaw.localCheckpoint()
    val nTest = math.max(1000L,
      testGrams.select(col("g")).distinct().count())
    val sketch = testGrams.select(col("g")).distinct()
      .stat.bloomFilter("g", nTest, 0.01)
    val mightContain = udf((g: Long) => sketch.mightContainLong(g))
    val outDir = s"$root/out"
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    val nBatches = new AtomicInteger(committedBatches(ckpt))
    runIngestAt(s, ckpt) {
      s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId + 1 >= failBeforeEpoch)
            throw new PlannedIngestKill(batchId + 1)
          val trainGrams = graft.operators.TrainingDataOps
            .trainShinglesOf(batch)
            .filter(mightContain(col("g")))
          testGrams.join(trainGrams, Seq("g"))
            .select(col("tkey"), col("g")).distinct()
            .write.mode("append").parquet(outDir)
          nBatches.set(batchId.toInt + 1)
          ()
        }
        .trigger(Trigger.AvailableNow())
    }
    val matchSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.LongType)))
    val shared = s.read.schema(matchSchema).parquet(outDir)
      .groupBy(col("tkey"))
      .agg(countDistinct(col("g")).as("n_shared"))
    (testMembers.join(shared, Seq("tkey"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id")), nBatches.get())
  }

  /** Per-user running (count, decimal sum) on the transformWithState API.
    * Each input value is rounded to 6 dp on entry (≡ CAST(v AS
    * DECIMAL(38,6)) in the oracle); decimal addition keeps the running
    * total partition-order independent (D2). */
  private class RunningAggProcessor
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, BigDecimal)] {
    @transient private var agg:
      org.apache.spark.sql.streaming.ValueState[(Long, BigDecimal)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, BigDecimal)]("agg",
        Encoders.product[(Long, BigDecimal)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, BigDecimal)] = {
      var (n, acc) = Option(agg.get()).getOrElse(
        (0L, BigDecimal(java.math.BigDecimal.ZERO)))
      rows.foreach { case (_, v) =>
        n += 1
        acc += BigDecimal(
          java.math.BigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP))
      }
      agg.update((n, acc))
      Iterator.single((key, n, acc))
    }
  }

  /** Streaming Misra–Gries heavy hitters (k = 64) per key — the
    * unbounded-stream twin of [[graft.functions.TopKSketchAggregator]],
    * sharing its update rule exactly: found → increment; room → insert
    * at 1; saturated → decrement every counter, drop zeros, do NOT
    * insert. The per-key [[MgState]] never exceeds k entries, so state
    * is O(types·k) at any stream length — the property that makes
    * streaming heavy hitters viable where exact per-user counts would
    * grow state with the user universe. Emits the current top 10 after
    * each batch's updates (update-mode discipline); `seen` is the
    * monotone collapse key for the readout. Same guarantee band as the
    * batch sketch: est ≤ true ≤ est + seen/k per type. */
  private class MgSketchProcessor extends StatefulProcessor[
      String, (String, Long), (String, Long, Long, Long)] {

    private val K = 64

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[MgState]("mg",
        Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val prev = Option(st.get()).getOrElse(
        MgState(new Array[Long](K), new Array[Long](K), 0, 0L))
      // state arrays may deserialize exactly-sized; restore capacity K
      val ks = java.util.Arrays.copyOf(prev.keys, K)
      val cs = java.util.Arrays.copyOf(prev.counts, K)
      var n = prev.n
      var seen = prev.seen
      rows.foreach { case (_, u) =>
        seen += 1L
        var i = 0; var found = false
        while (i < n && !found) {
          if (ks(i) == u) { cs(i) += 1L; found = true }
          i += 1
        }
        if (!found) {
          if (n < K) { ks(n) = u; cs(n) = 1L; n += 1 }
          else {
            var w = 0; var j = 0
            while (j < n) {
              val c = cs(j) - 1L
              if (c > 0L) { ks(w) = ks(j); cs(w) = c; w += 1 }
              j += 1
            }
            n = w
          }
        }
      }
      st.update(MgState(ks, cs, n, seen))
      val snapSeen = seen
      (0 until n).map(i => (ks(i), cs(i)))
        .sortBy { case (k2, c) => (-c, k2) }.take(10)
        .iterator.map { case (u, c) => (key, u, c, snapSeen) }
    }
  }

  /** Per-user event-time session windows with TIMER-driven close-out —
    * the Flink `KeyedProcessFunction` + `registerEventTimeTimer` shape on
    * Spark's transformWithState. Gap = 10 min, compared in exact event
    * MICROSECONDS for every data-driven decision; only the watermark
    * race (may the trailing session emit yet?) runs at the engine's
    * millisecond timer precision.
    *
    * Protocol per key:
    *  - handleInputRows sorts the batch's events, merges them into the
    *    open session from state, emits every session CLOSED BY DATA (a
    *    later event > gap away) immediately, stores the trailing open
    *    session, and re-arms the key's single timer at its close time
    *    (deleting any previously armed timer — listTimers is the source
    *    of truth, so re-arming is idempotent across batches).
    *  - handleExpiredTimer fires once the event-time watermark passes
    *    the armed close time (engine condition: expiry <= watermark, ms),
    *    emits the trailing session and clears the state — the session
    *    closed by TIME, not by data, which is the half of the Flink
    *    parity story that state alone can't express.
    * State is one (start, last, cnt, sum) tuple per key — O(keys) total,
    * partitioned by the shuffle like every stateful op here. */
  private class SessionTimeoutProcessor extends StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, Double),
      (Long, Long, Long, Long, BigDecimal)] {

    private val GapUs = 600000000L // 10 min in µs

    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, BigDecimal)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long, BigDecimal)]("sess",
        Encoders.product[(Long, Long, Long, BigDecimal)], TTLConfig.NONE)

    private def dec(v: Double): BigDecimal = BigDecimal(
      java.math.BigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP))

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, BigDecimal)] = {
      val evs = rows.toArray.sortBy(_._2)
      val closed = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, BigDecimal)]
      var st = Option(sess.get())
      evs.foreach { case (_, tsUs, _, v) =>
        st match {
          case None =>
            st = Some((tsUs, tsUs, 1L, dec(v)))
          case Some((start, last, cnt, sum)) =>
            if (tsUs - last > GapUs) {
              closed += ((key, start, last + GapUs, cnt, sum))
              st = Some((tsUs, tsUs, 1L, dec(v)))
            } else {
              st = Some((start, math.max(last, tsUs), cnt + 1, sum + dec(v)))
            }
        }
      }
      st.foreach { case s @ (_, last, _, _) =>
        sess.update(s)
        // one armed timer per key: drop stale ones, re-arm at close time
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer((last + GapUs) / 1000)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Long, Long, Long, BigDecimal)] = {
      val st = Option(sess.get())
      sess.clear()
      st.map { case (start, last, cnt, sum) =>
        (key, start, last + GapUs, cnt, sum)
      }.iterator
    }
  }

  /** Per-user session windows whose gap is a FUNCTION OF THE EVENT —
    * Flink's `SessionWindowTimeGapExtractor` (dynamic-gap session
    * windows) on the [[SessionTimeoutProcessor]] machinery. Each event
    * extends its session to `ts + gap(event_type)` (signup 30 min,
    * purchase 20 min, else 10 min); the session's close time is the
    * RUNNING MAX of those per-event ends — an early long-gap event can
    * hold the session open past a later short-gap one, which no single
    * trailing-gap rule expresses. Windows are half-open [ts, ts+gap):
    * an event AT the current close time starts a NEW session (the
    * deterministic tie rule, mirrored by the oracle's strict `<`).
    * State per key is one (start, maxEnd, cnt, sum) tuple; the single
    * armed timer sits at maxEnd, re-armed as events extend it. */
  private class DynamicGapSessionProcessor extends StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Double),
      (Long, Long, Long, Long, BigDecimal)] {

    private def gapUs(etype: String): Long = etype match {
      case "signup" => 1800000000L   // 30 min
      case "purchase" => 1200000000L // 20 min
      case _ => 600000000L           // 10 min
    }

    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, BigDecimal)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long, BigDecimal)]("dsess",
        Encoders.product[(Long, Long, Long, BigDecimal)], TTLConfig.NONE)

    private def dec(v: Double): BigDecimal = BigDecimal(
      java.math.BigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP))

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, String, Double)],
        timerValues: TimerValues):
        Iterator[(Long, Long, Long, Long, BigDecimal)] = {
      val evs = rows.toArray.sortBy(_._2)
      val closed = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, BigDecimal)]
      var st = Option(sess.get())
      evs.foreach { case (_, tsUs, _, etype, v) =>
        val end = tsUs + gapUs(etype)
        st match {
          case None =>
            st = Some((tsUs, end, 1L, dec(v)))
          case Some((start, maxEnd, cnt, sum)) =>
            if (tsUs >= maxEnd) { // half-open: touching starts a new one
              closed += ((key, start, maxEnd, cnt, sum))
              st = Some((tsUs, end, 1L, dec(v)))
            } else {
              st = Some((start, math.max(maxEnd, end), cnt + 1,
                sum + dec(v)))
            }
        }
      }
      st.foreach { case s @ (_, maxEnd, _, _) =>
        sess.update(s)
        getHandle.listTimers()
          .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(maxEnd / 1000)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Long, Long, Long, BigDecimal)] = {
      val st = Option(sess.get())
      sess.clear()
      st.map { case (start, maxEnd, cnt, sum) =>
        (key, start, maxEnd, cnt, sum)
      }.iterator
    }
  }

  /** [[AbcState]] ↔ working-tuple converters: pending signups plus the
    * buffered click/purchase events of the live 1 h horizon. Event
    * tuples are (typeCode 0=click/1=purchase, tsUs, eventId). */
  /** Count-based windows (Flink `countWindow(n)` / `countWindow(n,
    * slide)`): per user, window j covers the events at 1-based
    * event-time ranks `[j·slide + 1, j·slide + winSize]`; only FULL
    * windows emit. Tumbling is `slide == winSize` (disjoint runs);
    * `slide < winSize` overlaps (each event appears in up to
    * ⌈winSize/slide⌉ windows). A window is final once the watermark
    * passes its last member's millisecond — the engine's late rule
    * admits future rows only with ts_ms ≥ wm, so every event with
    * `tsUs < wm·1000` has its final rank (nothing can still arrive
    * before it, µs-exact by the same argument as AbcBufferProcessor's
    * evict). An event is evicted once every window containing it has
    * emitted (rank ≤ nEmitted·slide); `baseRank` counts evictions so
    * buffered ranks stay global, and `nEmitted` keeps window indices
    * contiguous across batches. State is O(winSize + unsealed horizon)
    * per key, not O(stream). */
  private class CountWindowProcessor(winSize: Int, slide: Int)
      extends StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Long, Long, Long),
        (Long, Long, Long, Long, Double)] {

    def this(winSize: Int) = this(winSize, winSize)

    // Eviction drops every rank ≤ nEmitted·slide the moment window
    // nEmitted−1 emits; for slide > winSize that range would include
    // gap events whose ranks are not yet sealed, so the processor
    // supports overlap and tumbling only.
    require(slide >= 1 && slide <= winSize, s"need 1 <= slide <= winSize")

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[CountWinState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CountWinState]("cw",
        Encoders.product[CountWinState], TTLConfig.NONE)

    private def bufOf(s: CountWinState): Seq[(Long, Long, Long)] =
      Array.tabulate(s.ts.length)(i => (s.ts(i), s.eid(i), s.vus(i))).toSeq

    private def pack(n: Long, base: Long, timerAt: Long,
        buf: Seq[(Long, Long, Long)]): CountWinState =
      CountWinState(n, base, timerAt, buf.map(_._1).toArray,
        buf.map(_._2).toArray, buf.map(_._3).toArray)

    /** One timer: the moment the next window's last member seals (its
      * ms + 1) — that member sits at global rank winSize + nEmitted·slide,
      * buffer position rank − baseRank − 1. Not yet buffered ⇒ no window
      * can seal without new input, which re-arms. The armed target rides
      * in state (`timerAt`, 0 = none) so an unchanged deadline skips the
      * delete+register state-store roundtrips — with a per-key event
      * feed this fires on nearly every batch, and the churn was
      * measurable on the 16× user-axis probe. Returns the new target. */
    private def rearm(buf: Seq[(Long, Long, Long)], nEmitted: Long,
        baseRank: Long, prev: Long): Long = {
      val pos = (winSize + nEmitted * slide - baseRank - 1).toInt
      val want =
        if (buf.size > pos) buf.map(_._1).sorted.apply(pos) / 1000 + 1
        else 0L
      if (want != prev) {
        if (prev != 0L) getHandle.deleteTimer(prev)
        if (want != 0L) getHandle.registerTimer(want)
      }
      want
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, Long, Long)],
        timerValues: TimerValues):
        Iterator[(Long, Long, Long, Long, Double)] = {
      val cur = Option(st.get())
      val buf = scala.collection.mutable.ArrayBuffer(
        cur.map(bufOf).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, eid, vus) => buf += ((tsUs, eid, vus)) }
      val n = cur.map(_.nEmitted).getOrElse(0L)
      val base = cur.map(_.baseRank).getOrElse(0L)
      val t = rearm(buf.toSeq, n, base, cur.map(_.timerAt).getOrElse(0L))
      st.update(pack(n, base, t, buf.toSeq))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Long, Long, Long, Double)] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur = Option(st.get())
      var nEmitted = cur.map(_.nEmitted).getOrElse(0L)
      var baseRank = cur.map(_.baseRank).getOrElse(0L)
      val sorted = cur.map(bufOf).getOrElse(Nil)
        .sortBy { case (ts, eid, _) => (ts, eid) }
      val maxSealedRank = baseRank + sorted.takeWhile(_._1 < wm * 1000).size
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Double)]
      while (winSize + nEmitted * slide <= maxSealedRank) {
        val startPos = (nEmitted * slide - baseRank).toInt
        val win = sorted.slice(startPos, startPos + winSize)
        out += ((key, nEmitted, win.head._1, win.last._1,
          win.map(_._3).sum.toDouble / 1e6))
        nEmitted += 1
      }
      val drop = (nEmitted * slide - baseRank).toInt
      val rest = sorted.drop(drop)
      baseRank += drop
      // this timer just fired — it no longer exists, so prev = 0
      val t = rearm(rest, nEmitted, baseRank, 0L)
      if (rest.nonEmpty || nEmitted > 0)
        st.update(pack(nEmitted, baseRank, t, rest))
      else st.clear()
      out.iterator
    }
  }

  /** Streaming EWMA (the per-event analytic shape): each event's
    * 10-term α=1/2 EWMA (ts_ewma's exact integer arithmetic) emits once
    * the watermark passes the event's millisecond — at that point its
    * rank is final (the late rule admits only ts_ms ≥ wm, so nothing
    * can still insert before it) and so are all 9 lags behind it.
    * State per key is the last 9 SEALED values plus the unsealed
    * horizon — the entire emitted history compresses into 9 longs,
    * which is what makes a per-event window analytic viable as
    * unbounded streaming state. */
  private class EwmaProcessor
      extends StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Long, Long, Long),
        (Long, Long, Double)] {

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EwmaState]("ew",
        Encoders.product[EwmaState], TTLConfig.NONE)

    private def bufOf(s: EwmaState): Seq[(Long, Long, Long)] =
      Array.tabulate(s.ts.length)(i => (s.ts(i), s.eid(i), s.vus(i))).toSeq

    private def pack(timerAt: Long, lags: Seq[Long],
        buf: Seq[(Long, Long, Long)]): EwmaState =
      EwmaState(timerAt, lags.toArray, buf.map(_._1).toArray,
        buf.map(_._2).toArray, buf.map(_._3).toArray)

    /** One timer: the earliest unsealed event's ms + 1 (the moment the
      * next emission seals). Same churn-avoidance as the count-window
      * processor: an unchanged target skips the state-store roundtrip. */
    private def rearm(buf: Seq[(Long, Long, Long)], prev: Long): Long = {
      val want = if (buf.isEmpty) 0L else buf.map(_._1).min / 1000 + 1
      if (want != prev) {
        if (prev != 0L) getHandle.deleteTimer(prev)
        if (want != 0L) getHandle.registerTimer(want)
      }
      want
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      val cur = Option(st.get())
      val buf = scala.collection.mutable.ArrayBuffer(
        cur.map(bufOf).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, eid, vus) => buf += ((tsUs, eid, vus)) }
      val t = rearm(buf.toSeq, cur.map(_.timerAt).getOrElse(0L))
      st.update(pack(t, cur.map(_.lagV.toSeq).getOrElse(Nil), buf.toSeq))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Long, Double)] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur = Option(st.get())
      var lags = cur.map(_.lagV.toSeq).getOrElse(Nil)
      val sorted = cur.map(bufOf).getOrElse(Nil)
        .sortBy { case (ts, eid, _) => (ts, eid) }
      val (ripe, rest) = sorted.partition(_._1 < wm * 1000)
      val out = ripe.map { case (_, eid, vus) =>
        val win = (lags :+ vus).takeRight(10).reverse // newest first
        var n = 0L; var w = 0L
        win.zipWithIndex.foreach { case (v, k) =>
          n += v * (512L >> k); w += 512L >> k
        }
        lags = (lags :+ vus).takeRight(9)
        (eid, key, ((2 * n + w) / (2 * w)).toDouble / 1e6)
      }
      val t = rearm(rest, 0L) // this timer just fired; prev = 0
      st.update(pack(t, lags, rest))
      out.iterator
    }
  }

  /** Per-user rolling z-score: each event, once the watermark seals its
    * rank, is scored against the previous ≤ 20 sealed values —
    * z = (n·x − Σv)/√(n·Σv² − (Σv)²), |z| > 3 flags the anomaly
    * (`ts_zscore`'s frame as streaming state). State reuses
    * [[EwmaState]]'s shape (lag context + unsealed buffer; here the lag
    * array holds ≤ 20 values). Exactness: values in MILLI-units, so
    * every moment (n·Σv² ≤ 20²·(10⁶)² = 4·10¹⁴) stays under 2⁵³ and the
    * long→double casts are EXACT on both engines — the no-decimal
    * streaming-state variant of ts_zscore's discipline (a processor
    * can't carry DECIMAL(38,0) sums in a primitive-array state row).
    * Input: (wallTs, tsUs, userId, eventId, vMilli);
    * output: (eventId, userId, z, isAnomaly). */
  private class ZscoreProcessor
      extends StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Long, Long, Long),
        (Long, Long, Option[Double], Boolean)] {

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EwmaState]("zs",
        Encoders.product[EwmaState], TTLConfig.NONE)

    private def bufOf(s: EwmaState): Seq[(Long, Long, Long)] =
      Array.tabulate(s.ts.length)(i => (s.ts(i), s.eid(i), s.vus(i))).toSeq

    private def pack(timerAt: Long, lags: Seq[Long],
        buf: Seq[(Long, Long, Long)]): EwmaState =
      EwmaState(timerAt, lags.toArray, buf.map(_._1).toArray,
        buf.map(_._2).toArray, buf.map(_._3).toArray)

    private def rearm(buf: Seq[(Long, Long, Long)], prev: Long): Long = {
      val want = if (buf.isEmpty) 0L else buf.map(_._1).min / 1000 + 1
      if (want != prev) {
        if (prev != 0L) getHandle.deleteTimer(prev)
        if (want != 0L) getHandle.registerTimer(want)
      }
      want
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, Long, Long)],
        timerValues: TimerValues):
        Iterator[(Long, Long, Option[Double], Boolean)] = {
      val cur = Option(st.get())
      val buf = scala.collection.mutable.ArrayBuffer(
        cur.map(bufOf).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, eid, vms) => buf += ((tsUs, eid, vms)) }
      val t = rearm(buf.toSeq, cur.map(_.timerAt).getOrElse(0L))
      st.update(pack(t, cur.map(_.lagV.toSeq).getOrElse(Nil), buf.toSeq))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Long, Option[Double], Boolean)] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur = Option(st.get())
      var lags = cur.map(_.lagV.toSeq).getOrElse(Nil)
      val sorted = cur.map(bufOf).getOrElse(Nil)
        .sortBy { case (ts, eid, _) => (ts, eid) }
      val (ripe, rest) = sorted.partition(_._1 < wm * 1000)
      val out = ripe.map { case (_, eid, x) =>
        val n = lags.length.toLong
        val z = if (n >= 5) {
          val s1 = lags.sum
          val s2 = lags.map(v => v * v).sum
          val den = n * s2 - s1 * s1
          if (den > 0)
            Some((n * x - s1).toDouble / math.sqrt(den.toDouble))
          else None
        } else None
        lags = (lags :+ x).takeRight(20)
        (eid, key, z, z.exists(v => math.abs(v) > 3))
      }
      val t = rearm(rest, 0L) // this timer just fired; prev = 0
      st.update(pack(t, lags, rest))
      out.iterator
    }
  }

  /** Per-user Markov transition emission: each event, once the watermark
    * seals its rank, emits the (previous type → its type) pair — the
    * streaming form of `events_transitions`' lag chain. The whole
    * emitted history compresses into ONE long (the last sealed event's
    * type code), so per-key state is that code plus the unsealed
    * horizon; same seal rule and timer churn-avoidance as
    * [[EwmaProcessor]]. Input: (wallTs, tsUs, userId, eventId,
    * typeCode); output: (eventId, userId, fromCode, toCode). */
  private class TransitionProcessor
      extends StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Long, Long, Long),
        (Long, Long, Long, Long)] {

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[TransState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TransState]("tr",
        Encoders.product[TransState], TTLConfig.NONE)

    private def bufOf(s: TransState): Seq[(Long, Long, Long)] =
      Array.tabulate(s.ts.length)(i => (s.ts(i), s.eid(i), s.cod(i))).toSeq

    private def pack(timerAt: Long, prev: Long,
        buf: Seq[(Long, Long, Long)]): TransState =
      TransState(timerAt, prev, buf.map(_._1).toArray,
        buf.map(_._2).toArray, buf.map(_._3).toArray)

    private def rearm(buf: Seq[(Long, Long, Long)], prev: Long): Long = {
      val want = if (buf.isEmpty) 0L else buf.map(_._1).min / 1000 + 1
      if (want != prev) {
        if (prev != 0L) getHandle.deleteTimer(prev)
        if (want != 0L) getHandle.registerTimer(want)
      }
      want
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val cur = Option(st.get())
      val buf = scala.collection.mutable.ArrayBuffer(
        cur.map(bufOf).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, eid, code) =>
        buf += ((tsUs, eid, code)) }
      val t = rearm(buf.toSeq, cur.map(_.timerAt).getOrElse(0L))
      st.update(pack(t, cur.map(_.prevCode).getOrElse(-1L), buf.toSeq))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, Long, Long, Long)] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur = Option(st.get())
      var prev = cur.map(_.prevCode).getOrElse(-1L)
      val sorted = cur.map(bufOf).getOrElse(Nil)
        .sortBy { case (ts, eid, _) => (ts, eid) }
      val (ripe, rest) = sorted.partition(_._1 < wm * 1000)
      val out = ripe.flatMap { case (_, eid, code) =>
        val o = if (prev >= 0) Some((eid, key, prev, code)) else None
        prev = code
        o
      }
      val t = rearm(rest, 0L) // this timer just fired; prev = 0
      st.update(pack(t, prev, rest))
      out.iterator
    }
  }

  private def abcSignups(s: AbcState): Seq[(Long, Long)] =
    Array.tabulate(s.sId.length)(i => (s.sId(i), s.sTs(i))).toSeq

  private def abcEvents(s: AbcState): Seq[(Int, Long, Long)] =
    Array.tabulate(s.eTs.length)(i => (s.eType(i), s.eTs(i), s.eId(i))).toSeq

  private def packAbc(signups: Seq[(Long, Long)],
      events: Seq[(Int, Long, Long)]): AbcState =
    AbcState(
      signups.map(_._1).toArray, signups.map(_._2).toArray,
      events.map(_._1).toArray, events.map(_._2).toArray,
      events.map(_._3).toArray)

  /** Shared buffered-window machinery for the chained CEP processors:
    * anchor events (rows whose type is `anchorType` — the pattern's
    * "begin") and the window's pattern-relevant events are buffered per
    * key; each anchor's verdict is evaluated once, in
    * handleExpiredTimer, from the buffered events — the point where the
    * watermark has sealed the window and "first"/"count"/"absent" are
    * final. Concrete processors supply the per-anchor [[verdict]];
    * `typeCodes` maps the input's string event types to the compact
    * int codes the buffer stores (round-8: both are parameters — the
    * anchor/type wiring had been hardwired to signup/click/purchase,
    * which kept the funnel ops on a hand-built automaton). Buffer
    * eviction: an event with ts ≤ watermark − window cannot qualify for
    * any live anchor (deadline > watermark ⇒ a_ts > wm − window, and
    * matches need ts > a_ts) nor any future one (arrival floor:
    * a_ts ≥ wm), so the per-key state is bounded by one window of
    * events — Flink-CEP's `within()` bound, not an unbounded history. */
  private abstract class AbcBufferProcessor[O](
      anchorType: String = "signup",
      typeCodes: Map[String, Int] = Map("click" -> 0, "purchase" -> 1))
      extends StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long), O] {

    protected val WindowUs = 3600000000L

    /** Chain evaluation for one matured anchor, from the sealed window's
      * buffered events (typeCode, tsUs, eventId). */
    protected def verdict(key: Long, sid: Long, sTs: Long,
        events: Seq[(Int, Long, Long)]): O

    /** Event types the concrete pattern actually reads — a processor
      * whose verdict ignores clicks (e.g. the absence pattern) skips
      * buffering them, halving its per-key state. */
    protected def wanted(typeCode: Int): Boolean = true

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[AbcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AbcState]("abc",
        Encoders.product[AbcState], TTLConfig.NONE)

    /** One armed timer per key: the earliest signup deadline, or — with
      * only buffered events left — a cleanup tick when the last event
      * leaves the live horizon, so signup-less keys cannot retain their
      * event buffer forever. */
    private def rearm(signups: Seq[(Long, Long)],
        events: Seq[(Int, Long, Long)]): Unit = {
      getHandle.listTimers()
        .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      val deadlines =
        signups.map { case (_, sTs) => (sTs + WindowUs) / 1000 } ++
          (if (signups.isEmpty && events.nonEmpty)
            Seq(events.map(_._2).max / 1000 + 1)
          else Nil)
      if (deadlines.nonEmpty) getHandle.registerTimer(deadlines.min)
    }

    /** Drop buffered events no LIVE or FUTURE match can need. Keep an
      * event iff it can still serve a PENDING signup (ts > min pending
      * s_ts — chain steps need ts strictly after the signup) or a
      * FUTURE one (ts > watermark; late-filtered signups arrive with
      * s_ts ≥ wm and need ts > s_ts). Keying the pending clause on the
      * signups REMAINING IN STATE — not on a wm-derived horizon — is
      * what makes input-path eviction safe against the same-batch race
      * where handleInputRows runs before this batch's timers fire: an
      * event a maturing signup still needs is protected by that
      * signup's own presence until handleExpiredTimer evaluates it. */
    private def evict(events: Seq[(Int, Long, Long)],
        signups: Seq[(Long, Long)], wmMs: Long): Seq[(Int, Long, Long)] = {
      val minS =
        if (signups.isEmpty) Long.MaxValue else signups.map(_._2).min
      // µs-exact future floor (wmMs*1000, NOT ts/1000 > wmMs): the late
      // filter truncates to ms, so a not-late signup can carry a ts with
      // a SMALLER microsecond part inside the watermark's current
      // millisecond — an event in that same ms must survive for it.
      events.filter { case (_, tsUs, _) =>
        tsUs > minS || tsUs > wmMs * 1000 }
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, String, Long)],
        timerValues: TimerValues): Iterator[O] = {
      val cur = Option(st.get())
      val signups = scala.collection.mutable.ArrayBuffer(
        cur.map(abcSignups).getOrElse(Nil): _*)
      val events = scala.collection.mutable.ArrayBuffer(
        cur.map(abcEvents).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, etype, eid) =>
        if (etype == anchorType) signups += ((eid, tsUs))
        // NOT an else: a strict-contiguity alphabet maps the anchor
        // type too (another user's signup IS "the next event")
        typeCodes.get(etype) match {
          case Some(tc) if wanted(tc) => events += ((tc, tsUs, eid))
          case _ => ()
        }
      }
      // evict on every input too — a key receiving clicks/purchases but
      // no signups must still shed events the watermark has passed
      val live = evict(events.toSeq, signups.toSeq,
        timerValues.getCurrentWatermarkInMs())
      if (signups.nonEmpty || live.nonEmpty)
        st.update(packAbc(signups.toSeq, live))
      else st.clear()
      rearm(signups.toSeq, live)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[O] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur = Option(st.get())
      val curSignups = cur.map(abcSignups).getOrElse(Nil)
      val curEvents = cur.map(abcEvents).getOrElse(Nil)
      val (matured, rest) = curSignups.partition {
        case (_, sTs) => (sTs + WindowUs) / 1000 <= wm
      }
      // evict AFTER chain evaluation, keyed on the surviving signups
      val live = evict(curEvents, rest, wm)
      if (rest.nonEmpty || live.nonEmpty)
        st.update(packAbc(rest, live))
      else st.clear()
      rearm(rest, live)
      matured.sortBy(_._1).iterator.map { case (sid, sTs) =>
        verdict(key, sid, sTs, curEvents)
      }
    }

  }

  /** The composable-CEP bridge: any [[Cep.Pattern]] rides the shared
    * buffered-window machinery (state shape, eviction, timer bounds all
    * inherited); `project` maps each anchor's sealed [[Cep.Outcome]] to
    * the query's output row. The five `stream_pattern_*` operators are
    * all instances of this one class since round 7 — the Flink-CEP
    * library surface (compose a pattern, get an operator) instead of an
    * automaton per query. */
  private class CepPatternProcessor[O](pattern: Cep.Pattern,
      project: (Long, Long, Long, Cep.Outcome) => O,
      anchorType: String = "signup",
      typeCodes: Map[String, Int] = Map("click" -> 0, "purchase" -> 1))
      extends AbcBufferProcessor[O](anchorType, typeCodes) {

    override protected def wanted(typeCode: Int): Boolean =
      pattern.needsAllTypes || pattern.wantedTypes(typeCode)

    override protected def verdict(key: Long, sid: Long, sTs: Long,
        events: Seq[(Int, Long, Long)]): O =
      project(key, sid, sTs, pattern.eval(sTs, events))
  }

  /** §2.H OPEN-FORM `until` sealed by a PROCESSING-TIME idle timeout
    * (round-14 stretch; ScalaTest-only and NON-ORACLE by contract —
    * the verdict depends on wall clock, so no DuckDB replay exists).
    * Flink's `oneOrMore().until(cond)` without `within()` is
    * unsealable in the buffered-window model: no event-time horizon
    * ever closes an open loop (the §2.H impossibility note). The
    * deployment-standard adaptation is an idle timeout: each key's
    * timer re-arms `timeoutMs` of PROCESSING time past its latest
    * input, and when it fires — riding Spark's no-data micro-batches,
    * so sealing needs no further input — every pending anchor seals
    * with whatever arrived: the FIRST purchase after the signup closes
    * the loop (b_count = clicks strictly between, `closed` = true);
    * an open loop seals with purchase = null and every later click
    * counted (`events_pattern_until`'s open shape, wall-clock-bounded).
    * Same flat-array state as the event-time CEP family. */
  private class UntilTimeoutProcessor(timeoutMs: Long)
      extends StatefulProcessor[Long,
        (java.sql.Timestamp, Long, Long, String, Long),
        (Long, Long, Option[Long], Long, Boolean)] {

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[AbcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AbcState]("untilT",
        Encoders.product[AbcState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, String, Long)],
        timerValues: TimerValues)
        : Iterator[(Long, Long, Option[Long], Long, Boolean)] = {
      val cur = Option(st.get())
      val signups = scala.collection.mutable.ArrayBuffer(
        cur.map(abcSignups).getOrElse(Nil): _*)
      val events = scala.collection.mutable.ArrayBuffer(
        cur.map(abcEvents).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, etype, eid) =>
        etype match {
          case "signup" => signups += ((eid, tsUs))
          case "click" => events += ((0, tsUs, eid))
          case "purchase" => events += ((1, tsUs, eid))
          case _ => ()
        }
      }
      if (signups.nonEmpty || events.nonEmpty)
        st.update(packAbc(signups.toSeq, events.toSeq))
      else st.clear()
      // idle re-arm: ONE timer per key, timeoutMs past this batch's
      // processing time — new input for the key postpones the seal.
      // Armed whenever ANY state was written (r14 advice): a key that
      // accumulates clicks/purchases but never a signup must still
      // expire (its seal emits nothing — no anchors — but clears the
      // state), or a long-running deployment leaks that state forever
      getHandle.listTimers()
        .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (signups.nonEmpty || events.nonEmpty)
        getHandle.registerTimer(
          timerValues.getCurrentProcessingTimeInMs() + timeoutMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Option[Long], Long, Boolean)] = {
      val cur = Option(st.get())
      val signups = cur.map(abcSignups).getOrElse(Nil)
      val events = cur.map(abcEvents).getOrElse(Nil)
      st.clear()
      signups.sortBy(_._1).iterator.map { case (sid, sTs) =>
        val close = events.filter(e => e._1 == 1 && e._2 > sTs)
          .sortBy(e => (e._2, e._3)).headOption
        close match {
          case Some((_, cts, cid)) =>
            val b = events.count(e =>
              e._1 == 0 && e._2 > sTs && e._2 < cts)
            (key, sid, Some(cid), b.toLong, true)
          case None =>
            val b = events.count(e => e._1 == 0 && e._2 > sTs)
            (key, sid, None, b.toLong, false)
        }
      }
    }
  }

  /** Run the idle-timeout `until` over a crafted event source dir:
    * starts a ProcessingTime-trigger query, polls the memory sink
    * until `expectedRows` verdicts have sealed (every anchor seals
    * eventually — the timer needs no further input), stops, returns
    * the table. Test hook for `stream_pattern_until_timeout`. */
  private[graft] def untilTimeoutRun(s: SparkSession, srcDir: String,
      timeoutMs: Long, expectedRows: Int,
      maxWaitMs: Long = 120000L): DataFrame = withRocksDb(s) {
    import s.implicits._
    val schema = s.read.parquet(srcDir).schema
    val name = s"graft_untilto_${counter.incrementAndGet()}"
    val ckpt = tempCheckpointDir()
    val q = confLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions(s))
      try s.readStream.schema(schema).parquet(srcDir)
        .select(col("ts_utc"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("event_id"))
        .as[(java.sql.Timestamp, Long, Long, String, Long)]
        .groupByKey(_._3)
        .transformWithState(new UntilTimeoutProcessor(timeoutMs),
          TimeMode.ProcessingTime(), OutputMode.Append())
        .toDF("user_id", "signup_id", "purchase_id", "b_count", "closed")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    try {
      val deadline = System.currentTimeMillis() + maxWaitMs
      while (s.table(name).count() < expectedRows &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally {
      q.stop(); q.awaitTermination()
      deleteRecursively(ckpt)
    }
    s.table(name).orderBy(col("user_id"), col("signup_id"))
  }

  /** Value-carrying twin of [[CepPatternProcessor]] for
    * iterative-condition patterns ([[Cep.Pattern.needsValues]]): the
    * buffer rows and pending anchors carry each event's `value`, so the
    * sealed-window evaluation can resolve `followedByIf` refs. A
    * SEPARATE class rather than a type parameter on the shared one
    * because the state row must stay flat primitive arrays for state
    * codegen ([[AbcVState]]) and the 9 value-free pattern ops must keep
    * their state shape untouched; the timer/eviction discipline below
    * reproduces [[AbcBufferProcessor]]'s verbatim on the widened row
    * (same bounds, same same-batch-race protection — see the comments
    * there for the proofs). */
  private class CepValuePatternProcessor[O](pattern: Cep.Pattern,
      project: (Long, Long, Long, Cep.Outcome) => O,
      anchorType: String = "signup",
      typeCodes: Map[String, Int] = Map("click" -> 0, "purchase" -> 1))
      extends StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long, Double), O] {

    private val WindowUs = 3600000000L
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[AbcVState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AbcVState]("abcv",
        Encoders.product[AbcVState], TTLConfig.NONE)

    private def wanted(tc: Int): Boolean =
      pattern.needsAllTypes || pattern.wantedTypes(tc)

    private def signupsOf(s: AbcVState): Seq[(Long, Long, Double)] =
      s.sId.indices.map(i => (s.sId(i), s.sTs(i), s.sVal(i)))
    private def eventsOf(s: AbcVState): Seq[(Int, Long, Long, Double)] =
      s.eType.indices.map(i => (s.eType(i), s.eTs(i), s.eId(i), s.eVal(i)))
    private def pack(signups: Seq[(Long, Long, Double)],
        events: Seq[(Int, Long, Long, Double)]): AbcVState =
      AbcVState(
        signups.map(_._1).toArray, signups.map(_._2).toArray,
        signups.map(_._3).toArray,
        events.map(_._1).toArray, events.map(_._2).toArray,
        events.map(_._3).toArray, events.map(_._4).toArray)

    private def rearm(signups: Seq[(Long, Long, Double)],
        events: Seq[(Int, Long, Long, Double)]): Unit = {
      getHandle.listTimers()
        .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      val deadlines =
        signups.map { case (_, sTs, _) => (sTs + WindowUs) / 1000 } ++
          (if (signups.isEmpty && events.nonEmpty)
            Seq(events.map(_._2).max / 1000 + 1)
          else Nil)
      if (deadlines.nonEmpty) getHandle.registerTimer(deadlines.min)
    }

    private def evict(events: Seq[(Int, Long, Long, Double)],
        signups: Seq[(Long, Long, Double)], wmMs: Long)
        : Seq[(Int, Long, Long, Double)] = {
      val minS =
        if (signups.isEmpty) Long.MaxValue else signups.map(_._2).min
      events.filter { case (_, tsUs, _, _) =>
        tsUs > minS || tsUs > wmMs * 1000 }
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(java.sql.Timestamp, Long, Long, String, Long,
          Double)],
        timerValues: TimerValues): Iterator[O] = {
      val cur = Option(st.get())
      val signups = scala.collection.mutable.ArrayBuffer(
        cur.map(signupsOf).getOrElse(Nil): _*)
      val events = scala.collection.mutable.ArrayBuffer(
        cur.map(eventsOf).getOrElse(Nil): _*)
      rows.foreach { case (_, tsUs, _, etype, eid, v) =>
        if (etype == anchorType) signups += ((eid, tsUs, v))
        typeCodes.get(etype) match {
          case Some(tc) if wanted(tc) => events += ((tc, tsUs, eid, v))
          case _ => ()
        }
      }
      val live = evict(events.toSeq, signups.toSeq,
        timerValues.getCurrentWatermarkInMs())
      if (signups.nonEmpty || live.nonEmpty)
        st.update(pack(signups.toSeq, live))
      else st.clear()
      rearm(signups.toSeq, live)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[O] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur = Option(st.get())
      val curSignups = cur.map(signupsOf).getOrElse(Nil)
      val curEvents = cur.map(eventsOf).getOrElse(Nil)
      val (matured, rest) = curSignups.partition {
        case (_, sTs, _) => (sTs + WindowUs) / 1000 <= wm
      }
      val live = evict(curEvents, rest, wm)
      if (rest.nonEmpty || live.nonEmpty)
        st.update(pack(rest, live))
      else st.clear()
      rearm(rest, live)
      matured.sortBy(_._1).iterator.map { case (sid, sTs, sVal) =>
        project(key, sid, sTs, pattern.eval(sTs, sVal, curEvents))
      }
    }
  }

  /** The five registered CEP patterns, composed through the [[Cep]]
    * builder (1 h window, click = type 0, purchase = type 1). Each
    * pattern's matching semantics are documented at its registered
    * query; the builder guarantees they all share the deterministic
    * first-match total order and the sealed-window evaluation point. */
  private val CepWindowUs = 3600000000L
  /** The canonical click/purchase type codes the patterns below use —
    * shared with the BATCH face ([[graft.functions.BatchCep]] compiles
    * these same Pattern objects), so both engines provably run one
    * spec. */
  private[graft] val cepTypeNames: Map[Int, String] =
    Map(0 -> "click", 1 -> "purchase")
  private[graft] val funnelPattern = Cep.begin(CepWindowUs)
    .followedBy("purchase", 1)
  private[graft] val abcPattern = Cep.begin(CepWindowUs)
    .followedBy("click", 0).followedBy("purchase", 1)
  private[graft] val quantifiedPattern = Cep.begin(CepWindowUs)
    .oneOrMoreGreedy("click", 0).followedBy("purchase", 1)
  private[graft] val timesPattern = Cep.begin(CepWindowUs)
    .followedBy("click", 0, times = 2).followedBy("purchase", 1)
  private[graft] val untilBoundedPattern = Cep.begin(CepWindowUs)
    .oneOrMoreUntil("click", 0, "purchase", 1)
  private[graft] val absencePattern = Cep.begin(CepWindowUs)
    .notFollowedBy("purchase", 1)
  private[graft] val optionalPattern = Cep.begin(CepWindowUs)
    .optionallyFollowedBy("click", 0).followedBy("purchase", 1)
  private[graft] val abandonPattern = Cep.begin(CepWindowUs)
    .followedBy("click", 0).notFollowedBy("purchase", 1)
  private[graft] val strictPattern = Cep.begin(CepWindowUs)
    .next("click", 0)
  /** Iterative condition (round-13): the FIRST purchase within 1 h
    * whose value EXCEEDS the signup's value — Flink's
    * `IterativeCondition` shape; an earlier cheaper purchase is
    * skipped, not a match-ender. */
  private[graft] val valuePattern = Cep.begin(CepWindowUs)
    .followedByIf("purchase", 1, Cep.Gt)
  /** The FULL event alphabet, for strict-contiguity patterns — next()
    * must see every event type to decide "immediately following"
    * (including other signups: an intervening signup breaks
    * contiguity, exactly as the batch op's unfiltered scan had it). */
  private[graft] val cepAllTypeNames: Map[Int, String] =
    Map(0 -> "click", 1 -> "purchase", 2 -> "view", 3 -> "error",
      4 -> "signup")

  /** Outcome → output-row projections, shared by the registered queries
    * and the test hooks. */
  private val funnelProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("purchase"), o.ts("purchase").map(_ - sTs))
  private val abcProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("click"), o.id("purchase"),
        o.ts("purchase").map(_ - sTs))
  private val quantifiedProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("click"), o.id("purchase"),
        o.counts.get("click"), o.ts("purchase").map(_ - sTs))
  private val timesProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("click1"), o.id("click2"), o.id("purchase"),
        o.ts("purchase").map(_ - sTs))
  private val untilBoundedProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("purchase"), o.counts.get("click"),
        o.ts("purchase").map(_ - sTs))
  private val absenceProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, sTs, !o.matched)
  private val optionalProject = abcProject
  private val abandonProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("click"), o.ts("click"), o.matched)
  private val strictProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("click"))
  private val valueProject =
    (key: Long, sid: Long, sTs: Long, o: Cep.Outcome) =>
      (key, sid, o.id("purchase"), o.value("purchase"),
        o.ts("purchase").map(_ - sTs))

  /** Test-only processor proving value-state TTL semantics: `cnt_ttl`
    * expires `ttlMs` of processing time after its last update, the
    * side-by-side `cnt_forever` (TTLConfig.NONE) never does — so a
    * restart long after the TTL shows exactly one of the two counters
    * surviving, isolating TTL from checkpoint recovery. */
  private[graft] class TtlCountProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, Long)] {
    @transient private var cntTtl:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var cntForever:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cntTtl = getHandle.getValueState[Long]("cnt_ttl", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
      cntForever = getHandle.getValueState[Long]("cnt_forever",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val n = rows.size.toLong
      val t = (if (cntTtl.exists()) cntTtl.get() else 0L) + n
      val f = (if (cntForever.exists()) cntForever.get() else 0L) + n
      cntTtl.update(t)
      cntForever.update(f)
      Iterator.single((key, t, f))
    }
  }

  /** Test-only processor proving PROCESSING-time timers — the wall-clock
    * half of the Flink timer surface (registerProcessingTimeTimer), which
    * closes out idle keys when the SOURCE goes quiet: an event-time timer
    * can never fire then, because the watermark only advances with data.
    * Per key: input re-arms a single wall-clock timer `idleMs` ahead and
    * emits ('active', n); when the timer expires — in a NO-DATA
    * micro-batch, purely by wall clock — the key emits ('idle_closed', n)
    * and clears its state. In TimeMode.ProcessingTime the engine
    * unconditionally schedules no-data batches (shouldRunAnotherBatch is
    * always true — timers might fire), which is exactly the machinery
    * that lets these timers fire with no new input; the StreamingSpec
    * test pins that, plus state-cleared-on-close (a later event re-opens
    * the key at n=1). */
  private[graft] class IdleTimeoutProcessor(idleMs: Long)
      extends StatefulProcessor[Long, (Long, Double), (Long, String, Long)] {
    @transient private var cnt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val n = (if (cnt.exists()) cnt.get() else 0L) + rows.size
      cnt.update(n)
      // one armed timer per key: drop stale ones, re-arm at idle deadline
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        timerValues.getCurrentProcessingTimeInMs() + idleMs)
      Iterator.single((key, "active", n))
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Long, String, Long)] = {
      val n = if (cnt.exists()) cnt.get() else 0L
      cnt.clear()
      Iterator.single((key, "idle_closed", n))
    }
  }

  /** Test hook: the update-collapse step (method is private). */
  private[graft] def collapseUpdatesForTest(mem: DataFrame): DataFrame =
    collapseUpdates(mem)

  /** Test hook: the timer-driven session processor (class is private). */
  private[graft] def sessionTimeoutForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, Double),
      (Long, Long, Long, Long, BigDecimal)] =
    new SessionTimeoutProcessor()

  /** Test hook: the streaming-funnel pattern processor (class is
    * private). Since round-8 the funnel IS a Cep pattern instance —
    * `begin(1h).followedBy(purchase)` anchored on signups. */
  private[graft] def funnelForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long),
      (Long, Long, Option[Long], Option[Long])] =
    new CepPatternProcessor(funnelPattern, funnelProject)

  /** Test hook: the 3-step pattern processor (class is private). */
  private[graft] def patternAbcForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long),
      (Long, Long, Option[Long], Option[Long], Option[Long])] =
    new CepPatternProcessor(abcPattern, abcProject)

  /** Test hook: the dynamic-gap session processor (class is private). */
  private[graft] def sessionDynamicForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Double),
      (Long, Long, Long, Long, BigDecimal)] =
    new DynamicGapSessionProcessor()

  /** Test hook: the quantified-pattern processor (class is private). */
  private[graft] def patternQuantifiedForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long),
      (Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])] =
    new CepPatternProcessor(quantifiedPattern, quantifiedProject)

  /** Test hook: the times(2)-pattern processor (class is private). */
  private[graft] def patternTimesForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long),
      (Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])] =
    new CepPatternProcessor(timesPattern, timesProject)

  /** Test hook: the absence-pattern processor (class is private). */
  private[graft] def patternAbsenceForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long),
      (Long, Long, Long, Boolean)] =
    new CepPatternProcessor(absencePattern, absenceProject)

  private[graft] def patternOptionalForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, String, Long),
      (Long, Long, Option[Long], Option[Long], Option[Long])] =
    new CepPatternProcessor(optionalPattern, optionalProject)

  private[graft] def countWindowForTest(winSize: Int): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, Long, Long),
      (Long, Long, Long, Long, Double)] =
    new CountWindowProcessor(winSize)

  private[graft] def countWindowForTest(winSize: Int, slide: Int):
      StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Long, Long, Long),
        (Long, Long, Long, Long, Double)] =
    new CountWindowProcessor(winSize, slide)

  private[graft] def ewmaForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, Long, Long),
      (Long, Long, Double)] =
    new EwmaProcessor()

  /** Test hook: the z-score processor (class is private). */
  private[graft] def zscoreForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, Long, Long),
      (Long, Long, Option[Double], Boolean)] =
    new ZscoreProcessor()

  /** Test hook: the transition processor (class is private). */
  private[graft] def transitionsForTest(): StatefulProcessor[
      Long, (java.sql.Timestamp, Long, Long, Long, Long),
      (Long, Long, Long, Long)] =
    new TransitionProcessor()

  /** Test hook: the running-aggregate processor (class is private). */
  private[graft] def runningAggForTest():
      StatefulProcessor[Long, (Long, Double), (Long, Long, BigDecimal)] =
    new RunningAggProcessor()

  val oracle: Map[String, String] = Map(
    // CM is linear: the streaming cells equal the batch cells exactly,
    // so the streaming twin shares agg_cm_sketch's oracle verbatim.
    "stream_cm_sketch" ->
      graft.operators.Aggregations.oracle("agg_cm_sketch"),

    // Horizon-free band-pair truth (see minhashIngestRun: the chained
    // micro-batch verdicts are batch-boundary-invariant, so the oracle
    // recomputes the global truth in one shot).
    "stream_minhash_ingest" ->
      graft.operators.LlmOps.minhashIngestOracleSql,

    // Horizon-free exact/band truth (see embeddingIngestRun: chained
    // micro-batch verdicts are batch-boundary-invariant).
    "stream_embedding_ingest" ->
      graft.operators.TrainingDataOps.embeddingIngestOracleSql,

    // Multi-epoch associativity (see keepBestIngestRun) makes the final
    // chained state equal a from-scratch keep-best, so the oracle IS
    // llm_dedup_keep_best's recursive recompute, shared verbatim.
    "stream_keep_best_ingest" ->
      graft.operators.LlmOps.oracle("llm_dedup_keep_best"),

    // Train batches commute (gram-set union), so the streamed answer
    // equals the one-shot op's and the oracle is shared verbatim.
    "stream_decontaminate_ingest" ->
      graft.operators.TrainingDataOps.oracle("llm_decontaminate"),

    // query independence makes the streamed serving output EQUAL the
    // batch op's over the same query set, so the oracle is verbatim
    // llm_ann_ivf's mirror (same columns, same total order)
    "stream_ann_query" -> graft.operators.AnnOps.annIvfOracleSql,

    // per-doc score independence + the frozen staged model make the
    // streamed gate equal the batch op verbatim — shared mirror
    "stream_perplexity_bucket" ->
      graft.operators.TrainingDataOps.oracle("llm_perplexity_bucket"),

    // per-epoch truth from the tableBatchDir split formula: k
    // prefix-parameterized images of llm_ann_ivf's mirror, one per
    // published index version (see annLiveRun)
    "stream_ann_live" -> graft.operators.AnnOps.annLiveOracleSql(4),
    // per-epoch ≡ llm_ann_pq on the id-ordered prefix: the k-epoch
    // union of prefix-parameterized PQ mirrors
    "stream_pq_live" -> graft.operators.AnnOps.pqLiveOracleSql(4),
    "stream_pq_live_delta" ->
      graft.operators.AnnOps.pqLiveDeltaOracleSql(4, 2),
    // per-epoch ≡ llm_embedding_pca on the prefix — the mirror
    // recomputes covariance directly, so the hash-match proves the
    // streamed (Σxxᵀ, Σx, n) state derivation (exact integer identity)
    "stream_pca_live" -> graft.operators.PcaOps.pcaLiveOracleSql(4),
    // per-epoch ≡ llm_embedding_outliers on the prefix — shared PCA
    // mirrors + the residual top-25 select per epoch
    "stream_outliers_live" ->
      graft.operators.PcaOps.outliersLiveOracleSql(4),

    // first-arrival keepers ≡ global min-id keepers under id-ordered
    // epochs + frozen staged models trained the batch op's way make
    // the live corpus build equal llm_ccnet_pipeline verbatim —
    // shared mirror (see ccnetIngestRun)
    "stream_ccnet_ingest" ->
      graft.operators.TrainingDataOps.oracle("llm_ccnet_pipeline"),

    // the cell-locality theorem (semanticCellVerdicts) makes the final
    // chained state equal the batch op over the whole corpus under the
    // frozen self-trained quantizer — shared mirror verbatim
    "stream_semantic_ingest" ->
      graft.operators.TrainingDataOps.oracle("llm_semantic_dedup"),

    "stream_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
                date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS w_end,
                event_type, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""",

    // ts_ewma's integer-exact SQL over the sealed prefix (events whose
    // ms the final watermark passed): an event's lags are all earlier
    // than it, so filtering the base CTE is exactly the sealed-rank rule.
    "stream_ewma" -> {
      val lagDefs = (1 until 10).map(k =>
        s"lag(v_us, $k) OVER w AS l$k").mkString(",\n                 ")
      val numTerms = (0 until 10).map { k =>
        val wt = 512L >> k
        if (wt == 1L) s"CASE WHEN l$k IS NOT NULL THEN l$k ELSE 0 END"
        else s"CASE WHEN l$k IS NOT NULL THEN l$k * $wt ELSE 0 END"
      }.mkString(" +\n                 ")
      val denTerms = (0 until 10).map { k =>
        s"CASE WHEN l$k IS NOT NULL THEN ${512L >> k} ELSE 0 END"
      }.mkString(" +\n                 ")
      s"""WITH mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                      FROM events),
            e AS (SELECT event_id, user_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                        AS v_us
                    FROM events, mx
                    WHERE epoch_us(CAST(ts AS TIMESTAMP)) < mx.wm * 1000),
            l AS (SELECT event_id, user_id, v_us AS l0,
                 $lagDefs
                  FROM e
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts_us, event_id)),
            a AS (SELECT event_id, user_id,
                 ($numTerms) AS n,
                 ($denTerms) AS dn
                  FROM l)
       SELECT event_id, user_id,
              CAST((2 * n + dn) // (2 * dn) AS DOUBLE) / 1000000 AS ewma
       FROM a ORDER BY event_id"""
    },

    // ts_zscore's moment SQL over the sealed prefix, in milli-units
    // (see the op comment): an event's 20-lag frame is all earlier than
    // it, so filtering the base CTE is exactly the sealed-rank rule.
    "stream_zscore" ->
      """WITH mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                     FROM events),
            e AS (SELECT event_id, user_id,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                    CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                      // 1000 AS v_ms
                  FROM events, mx
                  WHERE epoch_us(CAST(ts AS TIMESTAMP)) < mx.wm * 1000),
            st AS (SELECT event_id, user_id, v_ms,
                     count(v_ms) OVER w AS n,
                     sum(v_ms) OVER w AS s1,
                     sum(v_ms * v_ms) OVER w AS s2
                   FROM e
                   WINDOW w AS (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS BETWEEN 20 PRECEDING
                                         AND 1 PRECEDING)),
            zz AS (SELECT event_id, user_id,
                     CASE WHEN n >= 5 AND n * s2 - s1 * s1 > 0 THEN
                       CAST(n * v_ms - s1 AS DOUBLE)
                         / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) END AS z
                   FROM st)
       SELECT event_id, user_id, z,
              (z IS NOT NULL AND abs(z) > 3) AS is_anomaly
       FROM zz ORDER BY event_id""",

    // The batch lag chain over the sealed prefix (events whose ms the
    // final watermark passed): an event's lag predecessor is earlier
    // than it, so filtering the base CTE is exactly the sealed rule and
    // the cross-batch prevCode carry.
    "stream_transitions" ->
      """WITH mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                     FROM events),
            e AS (SELECT user_id, event_id,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
                  FROM events, mx
                  WHERE epoch_us(CAST(ts AS TIMESTAMP)) < mx.wm * 1000),
            t AS (SELECT event_id, user_id, event_type AS to_type,
                    lag(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) AS from_type
                  FROM e)
       SELECT event_id, user_id, from_type, to_type
       FROM t WHERE from_type IS NOT NULL ORDER BY event_id""",

    // Identical to ts_resample's oracle: complete-mode emission means
    // every bucket reports, no watermark cutoff.
    "stream_resample" ->
      """WITH e AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
                    FROM events),
            b AS (SELECT user_id, ts_us // 900000000 AS bkt, value,
                    first_value(value) OVER (
                      PARTITION BY user_id, ts_us // 900000000
                      ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS o,
                    last_value(value) OVER (
                      PARTITION BY user_id, ts_us // 900000000
                      ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS c
                  FROM e)
       SELECT user_id, CAST(bkt * 900000000 AS BIGINT) AS bucket_start_us,
              count(*) AS n_events, min(o) AS open_v, max(value) AS high_v,
              min(value) AS low_v, min(c) AS close_v
       FROM b GROUP BY user_id, bkt
       ORDER BY user_id, bucket_start_us""",

    "stream_sliding" ->
      """WITH e AS (SELECT time_bucket(INTERVAL '30 minutes',
                      CAST(ts AS TIMESTAMP)) AS b, event_type, value
                    FROM events),
              x AS (SELECT b AS w_start, event_type, value FROM e
                    UNION ALL
                    SELECT b - INTERVAL 30 MINUTE, event_type, value FROM e)
         SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, event_type,
                count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         FROM x GROUP BY 1, 2, 3 ORDER BY 1, 3""",

    "stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value
                    FROM events),
              o AS (SELECT user_id, t, value,
                      CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                             <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_sess
                    FROM e),
              g AS (SELECT user_id, t, value,
                      sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sess_id
                    FROM o)
         SELECT user_id, min(t) AS s_start,
                max(t) + INTERVAL 10 MINUTE AS s_end,
                count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         FROM g GROUP BY user_id, sess_id ORDER BY user_id, s_start""",

    "stream_windowed_rollup" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hb,
                      count(*) AS cnt
                    FROM events GROUP BY 1),
            mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events)
         SELECT date_trunc('day', hb) AS d_start,
                CAST(sum(cnt) AS BIGINT) AS n_events,
                count(*) AS n_hours
         FROM h, mx
         WHERE date_trunc('day', hb) + INTERVAL 1 DAY <= m
         GROUP BY 1 ORDER BY 1""",

    "stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type
         FROM events ORDER BY event_id""",

    "stream_stateful_agg" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "stream_stateful_tws" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",

    // Sessions closed BY DATA (a later event exists) always emit; the
    // trailing session per user emits iff its timer fired, i.e. iff its
    // ms-floored close time <= the ms-floored final watermark (= max
    // event time, delay 0) — the engine's timer comparison runs at ms
    // precision and is INCLUSIVE, mirrored here with epoch_ms (boundary
    // pinned empirically by the StreamingSpec timer test).
    "stream_session_timeout" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value
                    FROM events),
            mx AS (SELECT max(t) AS m FROM e),
            o AS (SELECT user_id, t, value,
                    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                           <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_sess
                  FROM e),
            g AS (SELECT user_id, t, value,
                    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                      ROWS UNBOUNDED PRECEDING) AS sess_id
                  FROM o),
            sess AS (SELECT user_id, sess_id, min(t) AS s_start,
                       max(t) AS last_t, count(*) AS cnt,
                       sum(CAST(value AS DECIMAL(38,6))) AS sv,
                       max(sess_id) OVER (PARTITION BY user_id) AS last_sess
                     FROM g GROUP BY user_id, sess_id)
         SELECT user_id, s_start, last_t + INTERVAL 10 MINUTE AS s_end, cnt,
                CAST(sv AS DOUBLE) AS sum_value
         FROM sess, mx
         WHERE sess_id < last_sess
            OR epoch_ms(last_t + INTERVAL 10 MINUTE) <= epoch_ms(m)
         ORDER BY user_id, s_start""",

    // Batch recompute of dynamic-gap sessions: gaps-and-islands where a
    // row continues the session iff its t is strictly inside the RUNNING
    // MAX of preceding (t + CASE-gap) ends; trailing sessions need their
    // close time under the ms watermark, as in stream_session_timeout.
    "stream_session_dynamic" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
                      CASE event_type
                        WHEN 'signup' THEN INTERVAL 30 MINUTE
                        WHEN 'purchase' THEN INTERVAL 20 MINUTE
                        ELSE INTERVAL 10 MINUTE END AS g,
                      value
                    FROM events),
            mx AS (SELECT epoch_ms(max(t)) AS wm FROM e),
            o AS (SELECT user_id, t, g, value,
                    CASE WHEN t < max(t + g) OVER (
                           PARTITION BY user_id ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         THEN 0 ELSE 1 END AS new_sess
                  FROM e),
            gi AS (SELECT user_id, t, g, value,
                    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                      ROWS UNBOUNDED PRECEDING) AS sess_id
                  FROM o),
            sess AS (SELECT user_id, sess_id, min(t) AS s_start,
                       max(t + g) AS s_end, count(*) AS cnt,
                       sum(CAST(value AS DECIMAL(38,6))) AS sv,
                       max(sess_id) OVER (PARTITION BY user_id) AS last_sess
                     FROM gi GROUP BY user_id, sess_id)
       SELECT user_id, s_start, s_end, cnt, CAST(sv AS DOUBLE) AS sum_value
       FROM sess, mx
       WHERE sess_id < last_sess OR epoch_ms(s_end) <= mx.wm
       ORDER BY user_id, s_start""",

    // Structural batch invariance: the frozen staged λ grid + per-doc
    // independence make the final table the batch op's verbatim.
    "stream_importance_ingest" ->
      graft.operators.TrainingDataOps.importanceWeightsOracleSql,

    // Structural batch invariance again: the frozen staged seg table +
    // per-doc independence make the final table `llm_bpe_tokenize`'s
    // verbatim — the shared mirror (trainer chain included).
    "stream_bpe_ingest" ->
      graft.operators.BpeOps.oracle("llm_bpe_tokenize"),
    // Horizon-free arrival-order truth (the minhash-ingest oracle
    // discipline): one global SQL, batch-boundary-invariant by the
    // monotone-id split
    "stream_phash_ingest" ->
      graft.operators.Multimodal.phashIngestOracleSql,

    // The side-output oracle: a row's arrival epoch is id % 4 + 1
    // (the mod staging), the epoch watermark is the max event-time ms
    // over EARLIER slices, and the side table is exactly the rows
    // whose ts + 60 s allowed lateness is still below it.
    "stream_side_output_late" ->
      """WITH ev AS (SELECT event_id, user_id,
                       epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
                       CAST(event_id % 4 AS INT) AS sl
                     FROM events),
            wm AS (SELECT t.u AS sl, max(e.ts_ms) AS wm_ms
                   FROM ev e
                   CROSS JOIN unnest(generate_series(1, 3)) AS t(u)
                   WHERE e.sl < t.u
                   GROUP BY 1)
       SELECT e.event_id, e.user_id, e.ts_ms,
              CAST(e.sl + 1 AS INT) AS epoch, w.wm_ms
       FROM ev e JOIN wm w ON w.sl = e.sl
       WHERE e.ts_ms + 60000 < w.wm_ms
       ORDER BY e.event_id""",

    // The dynamic-rules oracle: one SQL — an event's epoch is its
    // staged id-slice (recomputed from max(event_id) via the same
    // (m·u)//4 bounds), and each epoch's deterministic rule set
    // inlines as CASE arithmetic (exact small-int double products,
    // identical to the engine's staged thresholds).
    "stream_rules_apply" ->
      """WITH mx AS (SELECT max(event_id) + 1 AS m FROM events),
            ev AS (SELECT event_id, event_type, value,
                     CASE WHEN event_id >= (m * 3) // 4 THEN 4
                          WHEN event_id >= (m * 2) // 4 THEN 3
                          WHEN event_id >= (m * 1) // 4 THEN 2
                          ELSE 1 END AS epoch
                   FROM events CROSS JOIN mx),
            cls AS (SELECT event_id, event_type, epoch, value,
                      CASE WHEN event_type = 'error' THEN
                             CASE WHEN epoch <= 2 THEN 0.0
                                  ELSE 1000.0 END
                           ELSE 15.0 * epoch + 10.0 *
                             (CASE event_type WHEN 'click' THEN 0
                               WHEN 'purchase' THEN 1
                               WHEN 'view' THEN 2 ELSE 4 END) END AS thr
                    FROM ev)
       SELECT event_id, event_type, CAST(epoch AS INT) AS epoch, thr,
              CASE WHEN value >= thr THEN 'flag' ELSE 'pass' END
                AS action
       FROM cls ORDER BY event_id""",

    // The temporal-table-join oracle: the one-shot validity-interval
    // join over the FULL SCD2 history (exact by the ts-monotone
    // finality argument on the op). Boundaries, versions and the
    // decimal discipline mirror the engine bit-for-bit: B(u) = min ts
    // of id-slice u via the same (maxId+1)·u // k bounds; version
    // balances multiply by (10+u)/10.0 — the correctly-rounded IEEE
    // division, the identical double to the engine's lit() — then
    // take merge_scd2's DECIMAL(38,6) round-trip.
    "stream_temporal_join" ->
      """WITH ev AS (SELECT event_id, user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                     FROM events),
            mx AS (SELECT max(event_id) + 1 AS m FROM ev),
            b AS (SELECT t.u AS u, min(e.ts_us) AS bu
                  FROM ev e CROSS JOIN mx
                  CROSS JOIN unnest(generate_series(1, 3)) AS t(u)
                  WHERE e.event_id >= (mx.m * t.u) // 4
                    AND e.event_id <
                      CASE WHEN t.u = 3 THEN 9223372036854775807
                           ELSE (mx.m * (t.u + 1)) // 4 END
                  GROUP BY 1),
            v0 AS (SELECT c.c_custkey AS k, 0 AS version,
                     CAST(CAST(c.c_acctbal AS DECIMAL(38,6)) AS DOUBLE)
                       AS bal,
                     CAST(0 AS BIGINT) AS vf,
                     CASE WHEN c.c_custkey % 7 = 0
                          THEN (SELECT bu FROM b WHERE u = 1) END AS vt
                   FROM customer c),
            vv AS (SELECT c.c_custkey AS k, CAST(t.u AS INT) AS version,
                     CAST(CAST(c.c_acctbal * ((10 + t.u) / 10.0)
                       AS DECIMAL(38,6)) AS DOUBLE) AS bal,
                     (SELECT bu FROM b WHERE b.u = t.u) AS vf,
                     (SELECT bu FROM b WHERE b.u = t.u + 1) AS vt
                   FROM customer c
                   CROSS JOIN unnest(generate_series(1, 3)) AS t(u)
                   WHERE c.c_custkey % 7 = 0),
            allv AS (SELECT * FROM v0 UNION ALL SELECT * FROM vv)
       SELECT e.event_id, e.user_id, CAST(v.version AS INT) AS version,
              v.bal
       FROM ev e JOIN allv v ON v.k = e.user_id
         AND e.ts_us >= v.vf AND (v.vt IS NULL OR e.ts_us < v.vt)
       ORDER BY e.event_id""",

    // Batch recompute of the streaming funnel + the watermark cutoff:
    // a signup's verdict emits iff its ms-truncated deadline cleared the
    // final watermark (= ms-truncated max event time, delay 0) — the
    // same epoch_ms convention the session-timeout oracle pins.
    "stream_funnel" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            j AS (SELECT s.user_id, s.signup_id, s.s_ts,
                    p.purchase_id, p.p_ts,
                    row_number() OVER (PARTITION BY s.signup_id
                      ORDER BY p.p_ts, p.purchase_id) AS rn
                  FROM sg s LEFT JOIN pu p
                    ON p.user_id = s.user_id
                   AND p.p_ts > s.s_ts
                   AND p.p_ts <= s.s_ts + 3600000000)
       SELECT user_id, signup_id, purchase_id,
              p_ts - s_ts AS us_to_convert
       FROM j, mx
       WHERE rn = 1 AND (s_ts + 3600000000) // 1000 <= wm
       ORDER BY signup_id""",

    // Batch recompute of the iterative-condition pattern + the same
    // watermark cutoff convention as stream_funnel: first purchase
    // whose value exceeds the signup's (the predicate filters the
    // candidate set BEFORE the first-match rank, so a cheaper earlier
    // purchase never blocks a later qualifying one).
    "stream_pattern_value" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       value AS s_val,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       value AS p_val,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            j AS (SELECT s.user_id, s.signup_id, s.s_ts,
                    p.purchase_id, p.p_val, p.p_ts,
                    row_number() OVER (PARTITION BY s.signup_id
                      ORDER BY p.p_ts, p.purchase_id) AS rn
                  FROM sg s LEFT JOIN pu p
                    ON p.user_id = s.user_id
                   AND p.p_ts > s.s_ts
                   AND p.p_ts <= s.s_ts + 3600000000
                   AND p.p_val > s.s_val)
       SELECT user_id, signup_id, purchase_id,
              p_val AS purchase_value, p_ts - s_ts AS us_to_convert
       FROM j, mx
       WHERE rn = 1 AND (s_ts + 3600000000) // 1000 <= wm
       ORDER BY signup_id""",

    // Batch recompute of the 3-step pattern + the same watermark cutoff
    // convention as stream_funnel.
    "stream_pattern_abc" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            ck AS (SELECT user_id, event_id AS click_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
                   FROM events WHERE event_type = 'click'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            s1 AS (SELECT s.user_id, s.signup_id, s.s_ts,
                     c.click_id, c.c_ts,
                     row_number() OVER (PARTITION BY s.signup_id
                       ORDER BY c.c_ts, c.click_id) AS rn
                   FROM sg s LEFT JOIN ck c
                     ON c.user_id = s.user_id
                    AND c.c_ts > s.s_ts
                    AND c.c_ts <= s.s_ts + 3600000000),
            f1 AS (SELECT * FROM s1 WHERE rn = 1),
            s2 AS (SELECT f.user_id, f.signup_id, f.s_ts, f.click_id,
                     p.purchase_id, p.p_ts,
                     row_number() OVER (PARTITION BY f.signup_id
                       ORDER BY p.p_ts, p.purchase_id) AS rn
                   FROM f1 f LEFT JOIN pu p
                     ON p.user_id = f.user_id
                    AND p.p_ts > f.c_ts
                    AND p.p_ts <= f.s_ts + 3600000000)
       SELECT user_id, signup_id, click_id, purchase_id,
              p_ts - s_ts AS us_to_complete
       FROM s2, mx
       WHERE rn = 1 AND (s_ts + 3600000000) // 1000 <= wm
       ORDER BY signup_id""",

    // Batch recompute of the quantified pattern (A B+ C, greedy b_count
    // = clicks strictly between signup and the closing purchase) + the
    // same watermark cutoff convention as stream_funnel.
    "stream_pattern_quantified" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            ck AS (SELECT user_id, event_id AS click_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
                   FROM events WHERE event_type = 'click'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            s1 AS (SELECT s.user_id, s.signup_id, s.s_ts,
                     c.click_id, c.c_ts,
                     row_number() OVER (PARTITION BY s.signup_id
                       ORDER BY c.c_ts, c.click_id) AS rn
                   FROM sg s LEFT JOIN ck c
                     ON c.user_id = s.user_id
                    AND c.c_ts > s.s_ts
                    AND c.c_ts <= s.s_ts + 3600000000),
            f1 AS (SELECT * FROM s1 WHERE rn = 1),
            s2 AS (SELECT f.user_id, f.signup_id, f.s_ts, f.click_id,
                     p.purchase_id, p.p_ts,
                     row_number() OVER (PARTITION BY f.signup_id
                       ORDER BY p.p_ts, p.purchase_id) AS rn
                   FROM f1 f LEFT JOIN pu p
                     ON p.user_id = f.user_id
                    AND p.p_ts > f.c_ts
                    AND p.p_ts <= f.s_ts + 3600000000),
            f2 AS (SELECT * FROM s2 WHERE rn = 1)
       SELECT f.user_id, f.signup_id, f.click_id, f.purchase_id,
              CASE WHEN f.purchase_id IS NOT NULL
                   THEN count(b.click_id) END AS b_count,
              f.p_ts - f.s_ts AS us_to_complete
       FROM f2 f CROSS JOIN mx LEFT JOIN ck b
         ON b.user_id = f.user_id
        AND b.c_ts > f.s_ts AND b.c_ts < f.p_ts
       WHERE (f.s_ts + 3600000000) // 1000 <= mx.wm
       GROUP BY f.user_id, f.signup_id, f.click_id, f.purchase_id,
                f.p_ts, f.s_ts
       ORDER BY f.signup_id""",

    // Batch recompute of the streaming DAU: dedup-then-count is
    // arrival-order-insensitive, so no watermark cutoff term.
    "stream_dau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                         AS day
                     FROM events)
       SELECT day, count(*) AS dau FROM ud GROUP BY 1 ORDER BY day""",

    // Batch recompute of the streaming funnel's CONVERTED verdicts under
    // the same ms watermark cutoff, rolled into 5-min lag buckets.
    "stream_conversion_lag" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            j AS (SELECT s.signup_id, s.s_ts, p.purchase_id, p.p_ts,
                    row_number() OVER (PARTITION BY s.signup_id
                      ORDER BY p.p_ts, p.purchase_id) AS rn
                  FROM sg s JOIN pu p
                    ON p.user_id = s.user_id
                   AND p.p_ts > s.s_ts
                   AND p.p_ts <= s.s_ts + 3600000000),
            f AS (SELECT signup_id, p_ts - s_ts AS lag_us
                  FROM j, mx
                  WHERE rn = 1 AND (s_ts + 3600000000) // 1000 <= wm)
       SELECT lag_us // 300000000 AS bucket_5min,
              count(*) AS n_conversions,
              min(lag_us) AS min_lag_us,
              max(lag_us) AS max_lag_us
       FROM f GROUP BY 1 ORDER BY bucket_5min""",

    // Batch recompute of the times(2) pattern (A B{2} C, chained
    // first-match binding) + the same watermark cutoff convention as
    // stream_funnel.
    "stream_pattern_times" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            ck AS (SELECT user_id, event_id AS click_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
                   FROM events WHERE event_type = 'click'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            s1 AS (SELECT s.user_id, s.signup_id, s.s_ts,
                     c.click_id AS click1_id, c.c_ts AS c1_ts,
                     row_number() OVER (PARTITION BY s.signup_id
                       ORDER BY c.c_ts, c.click_id) AS rn
                   FROM sg s LEFT JOIN ck c
                     ON c.user_id = s.user_id
                    AND c.c_ts > s.s_ts
                    AND c.c_ts <= s.s_ts + 3600000000),
            f1 AS (SELECT * FROM s1 WHERE rn = 1),
            s2 AS (SELECT f.user_id, f.signup_id, f.s_ts, f.click1_id,
                     c.click_id AS click2_id, c.c_ts AS c2_ts,
                     row_number() OVER (PARTITION BY f.signup_id
                       ORDER BY c.c_ts, c.click_id) AS rn
                   FROM f1 f LEFT JOIN ck c
                     ON c.user_id = f.user_id
                    AND c.c_ts > f.c1_ts
                    AND c.c_ts <= f.s_ts + 3600000000),
            f2 AS (SELECT * FROM s2 WHERE rn = 1),
            s3 AS (SELECT f.user_id, f.signup_id, f.s_ts, f.click1_id,
                     f.click2_id, p.purchase_id, p.p_ts,
                     row_number() OVER (PARTITION BY f.signup_id
                       ORDER BY p.p_ts, p.purchase_id) AS rn
                   FROM f2 f LEFT JOIN pu p
                     ON p.user_id = f.user_id
                    AND p.p_ts > f.c2_ts
                    AND p.p_ts <= f.s_ts + 3600000000)
       SELECT user_id, signup_id, click1_id, click2_id, purchase_id,
              p_ts - s_ts AS us_to_complete
       FROM s3, mx
       WHERE rn = 1 AND (s_ts + 3600000000) // 1000 <= wm
       ORDER BY signup_id""",

    // Batch recompute of the bounded until (round-11): first purchase
    // within the 1 h window closes the loop; clicks counted strictly
    // between signup and that close; open-within-window signups report
    // null count — events_pattern_until's SQL with the window bound on
    // the purchase join + the shared ms watermark-seal cutoff.
    "stream_pattern_until_bounded" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            ck AS (SELECT user_id, event_id AS click_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
                   FROM events WHERE event_type = 'click'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            s1 AS (SELECT s.user_id, s.signup_id, s.s_ts,
                     p.purchase_id, p.p_ts,
                     row_number() OVER (PARTITION BY s.signup_id
                       ORDER BY p.p_ts, p.purchase_id) AS rn
                   FROM sg s LEFT JOIN pu p
                     ON p.user_id = s.user_id
                    AND p.p_ts > s.s_ts
                    AND p.p_ts <= s.s_ts + 3600000000),
            f1 AS (SELECT * FROM s1 WHERE rn = 1)
       SELECT f.user_id, f.signup_id, f.purchase_id,
              CASE WHEN f.purchase_id IS NOT NULL
                   THEN count(b.click_id) END AS b_count,
              f.p_ts - f.s_ts AS us_to_close
       FROM f1 f CROSS JOIN mx LEFT JOIN ck b
         ON b.user_id = f.user_id
        AND b.c_ts > f.s_ts AND b.c_ts < f.p_ts
       WHERE (f.s_ts + 3600000000) // 1000 <= mx.wm
       GROUP BY f.user_id, f.signup_id, f.purchase_id, f.p_ts, f.s_ts
       ORDER BY f.signup_id""",

    // Batch recompute of the absence pattern + the same watermark
    // cutoff convention as stream_funnel: a signup's non-match is only
    // reportable once its ms-truncated deadline cleared the final
    // watermark.
    "stream_pattern_absence" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts_us
                     FROM events WHERE event_type = 'signup'),
            pu AS (SELECT user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events)
       SELECT s.user_id, s.signup_id, s.s_ts_us
       FROM sg s, mx
       WHERE (s.s_ts_us + 3600000000) // 1000 <= mx.wm
         AND NOT EXISTS (SELECT 1 FROM pu p
                         WHERE p.user_id = s.user_id
                           AND p.p_ts > s.s_ts_us
                           AND p.p_ts <= s.s_ts_us + 3600000000)
       ORDER BY s.signup_id""",

    // Batch recompute of the abandonment pattern: first click per signup
    // (stream_pattern_abc's first-match rule), then NOT EXISTS purchase
    // in (click, deadline], same watermark-seal cutoff.
    "stream_pattern_abandon" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            ck AS (SELECT user_id, event_id AS click_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
                   FROM events WHERE event_type = 'click'),
            pu AS (SELECT user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            s1 AS (SELECT s.user_id, s.signup_id, s.s_ts,
                     c.click_id, c.c_ts,
                     row_number() OVER (PARTITION BY s.signup_id
                       ORDER BY c.c_ts, c.click_id) AS rn
                   FROM sg s JOIN ck c
                     ON c.user_id = s.user_id
                    AND c.c_ts > s.s_ts
                    AND c.c_ts <= s.s_ts + 3600000000),
            f1 AS (SELECT * FROM s1 WHERE rn = 1)
       SELECT f.user_id, f.signup_id, f.click_id, f.c_ts AS c_ts_us
       FROM f1 f, mx
       WHERE (f.s_ts + 3600000000) // 1000 <= mx.wm
         AND NOT EXISTS (SELECT 1 FROM pu p
                         WHERE p.user_id = f.user_id
                           AND p.p_ts > f.c_ts
                           AND p.p_ts <= f.s_ts + 3600000000)
       ORDER BY f.signup_id""",

    // Batch recompute of the strict-contiguity step (the
    // events_pattern_strict oracle + the stream family's
    // watermark-seal cutoff): next event of ANY type per signup,
    // click iff it is one.
    "stream_pattern_strict" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            nx AS (SELECT user_id, event_id AS n_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS n_ts,
                       event_type AS n_type
                   FROM events),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            j AS (SELECT s.user_id, s.signup_id, s.s_ts, n.n_id,
                    n.n_type,
                    row_number() OVER (PARTITION BY s.signup_id
                      ORDER BY n.n_ts, n.n_id) AS rn
                  FROM sg s LEFT JOIN nx n
                    ON n.user_id = s.user_id
                   AND n.n_ts > s.s_ts
                   AND n.n_ts <= s.s_ts + 3600000000)
       SELECT user_id, signup_id,
              CASE WHEN n_type = 'click' THEN n_id END AS next_click_id
       FROM j, mx
       WHERE rn = 1 AND (s_ts + 3600000000) // 1000 <= mx.wm
       ORDER BY signup_id""",

    // Batch recompute of the optional pattern + the stream_pattern_abc
    // deadline cutoff: a signup's verdict is final only once the
    // watermark passes its whole window.
    "stream_pattern_optional" ->
      """WITH sg AS (SELECT user_id, event_id AS signup_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts
                     FROM events WHERE event_type = 'signup'),
            ck AS (SELECT user_id, event_id AS click_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
                   FROM events WHERE event_type = 'click'),
            pu AS (SELECT user_id, event_id AS purchase_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            c AS (SELECT user_id, signup_id, s_ts, click_id, c_ts FROM (
                    SELECT s.user_id, s.signup_id, s.s_ts, k.click_id,
                           k.c_ts,
                           row_number() OVER (PARTITION BY s.signup_id
                             ORDER BY k.c_ts, k.click_id) AS rn
                    FROM sg s JOIN ck k ON k.user_id = s.user_id
                      AND k.c_ts > s.s_ts
                      AND k.c_ts <= s.s_ts + 3600000000)
                  WHERE rn = 1),
            p1 AS (SELECT signup_id, purchase_id AS p1_id, p_ts AS p1_ts
                   FROM (
                     SELECT c.signup_id, p.purchase_id, p.p_ts,
                            row_number() OVER (PARTITION BY c.signup_id
                              ORDER BY p.p_ts, p.purchase_id) AS rn
                     FROM c JOIN pu p ON p.user_id = c.user_id
                       AND p.p_ts > c.c_ts
                       AND p.p_ts <= c.s_ts + 3600000000)
                   WHERE rn = 1),
            p0 AS (SELECT signup_id, purchase_id AS p0_id, p_ts AS p0_ts
                   FROM (
                     SELECT s.signup_id, p.purchase_id, p.p_ts,
                            row_number() OVER (PARTITION BY s.signup_id
                              ORDER BY p.p_ts, p.purchase_id) AS rn
                     FROM sg s JOIN pu p ON p.user_id = s.user_id
                       AND p.p_ts > s.s_ts
                       AND p.p_ts <= s.s_ts + 3600000000)
                   WHERE rn = 1)
       SELECT s.user_id, s.signup_id,
              CASE WHEN p1.p1_id IS NOT NULL THEN c.click_id
                   WHEN p0.p0_id IS NOT NULL THEN NULL
                   ELSE c.click_id END AS click_id,
              coalesce(p1.p1_id, p0.p0_id) AS purchase_id,
              CASE WHEN p1.p1_id IS NOT NULL THEN p1.p1_ts - s.s_ts
                   WHEN p0.p0_id IS NOT NULL THEN p0.p0_ts - s.s_ts
              END AS us_to_complete
       FROM sg s
       CROSS JOIN mx
       LEFT JOIN c ON c.signup_id = s.signup_id
       LEFT JOIN p1 ON p1.signup_id = s.signup_id
       LEFT JOIN p0 ON p0.signup_id = s.signup_id
       WHERE (s.s_ts + 3600000000) // 1000 <= mx.wm
       ORDER BY s.signup_id""",

    // Batch recompute of events_count_window under the seal rule: only
    // events strictly inside the final watermark's millisecond horizon
    // have final ranks; windows form over that sealed prefix.
    "stream_count_window" ->
      """WITH e AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                        AS v_us
                    FROM events),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            r AS (SELECT e.*, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) - 1 AS rn
                  FROM e, mx WHERE e.ts_us < mx.wm * 1000),
            g AS (SELECT user_id, rn // 5 AS win_idx, count(*) AS n,
                    min(ts_us) AS w_first_us, max(ts_us) AS w_last_us,
                    CAST(sum(v_us) AS BIGINT) AS sv
                  FROM r GROUP BY 1, 2)
       SELECT user_id, CAST(win_idx AS BIGINT) AS win_idx,
              w_first_us, w_last_us,
              CAST(sv AS DOUBLE) / 1000000 AS sum_value
       FROM g WHERE n = 5 ORDER BY user_id, win_idx""",

    // Batch recompute of events_count_sliding under the same seal rule:
    // rank the sealed prefix, emit every 2nd rank from 5 up.
    "stream_count_sliding" ->
      """WITH e AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                        AS v_us
                    FROM events),
            mx AS (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP))) AS wm
                   FROM events),
            r AS (SELECT user_id, ts_us,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) AS rn,
                    min(ts_us) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                      AS w_first_us,
                    CAST(sum(v_us) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
                      AS sv
                  FROM e, mx WHERE e.ts_us < mx.wm * 1000)
       SELECT user_id, CAST((rn - 5) // 2 AS BIGINT) AS win_idx,
              w_first_us, ts_us AS w_last_us,
              CAST(sv AS DOUBLE) / 1000000 AS sum_value
       FROM r WHERE rn >= 5 AND (rn - 5) % 2 = 0
       ORDER BY user_id, win_idx""",

    "stream_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
                p.user_id AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         ORDER BY p_id, c_id""",

    "stream_windowed_topk" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
                      event_type, count(*) AS cnt
                    FROM events GROUP BY 1, 2),
            r AS (SELECT w_start, event_type, cnt,
                    row_number() OVER (PARTITION BY w_start
                      ORDER BY cnt DESC, event_type) AS rn
                  FROM h)
         SELECT w_start, event_type, cnt, rn
         FROM r WHERE rn <= 2 ORDER BY w_start, rn""",

    // Batch recompute: same-user purchase×click pairs co-resident in the
    // same hour bucket. Inner matches emit eagerly (no watermark gate).
    "stream_window_join" ->
      """SELECT date_trunc('hour', CAST(p.ts AS TIMESTAMP)) AS w_start,
                p.event_id AS p_id, c.event_id AS c_id,
                p.user_id AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND date_trunc('hour', CAST(p.ts AS TIMESTAMP)) =
              date_trunc('hour', CAST(c.ts AS TIMESTAMP))
         ORDER BY p_id, c_id""",

    // Single-file replay = one micro-batch against watermark 0 ⇒ every
    // row routes to the on-time side; the oracle pins the NO-LOSS
    // property (late routing itself is arrival-order dependent → the
    // multi-batch ScalaTest).
    "stream_late_side_output" ->
      """SELECT 'ontime' AS side, count(*) AS cnt,
                CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events""",

    // Batch left join; the null (non-match) rows additionally require
    // the purchase's match window sealed by the final watermark — the
    // same cutoff discipline as the timer ops, at the join's ms
    // precision. The query watermark is the MIN across the two
    // watermark nodes (purchase side and click side each track their
    // own max event time), not the all-events max.
    "stream_stream_join_outer" ->
      """WITH mx AS (SELECT least(
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'purchase'),
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'click')) AS wm)
         SELECT p.event_id AS p_id, c.event_id AS c_id,
                p.user_id AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         CROSS JOIN mx
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         WHERE c.event_id IS NOT NULL
            OR epoch_ms(CAST(p.ts AS TIMESTAMP)) < mx.wm
         ORDER BY p_id, c_id""",

    "stream_static_join" ->
      """SELECT event_id, user_id, c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",

    // Batch full join + BOTH null-side watermark cutoffs: purchase
    // nulls seal at their own event time, click nulls at the far edge
    // (c_ts + 30 min) of the purchases they could still match.
    "stream_stream_join_full" ->
      """WITH mx AS (SELECT least(
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'purchase'),
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'click')) AS wm)
         SELECT p.event_id AS p_id, c.event_id AS c_id,
                coalesce(p.user_id, c.user_id) AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         WHERE (p.event_id IS NOT NULL AND c.event_id IS NOT NULL)
            OR (c.event_id IS NULL AND
                epoch_ms(CAST(p.ts AS TIMESTAMP)) < (SELECT wm FROM mx))
            OR (p.event_id IS NULL AND
                epoch_ms(CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE)
                  < (SELECT wm FROM mx))
         ORDER BY p_id, c_id""",

    // Batch right join + the click-side far-edge cutoff on null rows.
    "stream_stream_join_right" ->
      """WITH mx AS (SELECT least(
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'purchase'),
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'click')) AS wm)
         SELECT p.event_id AS p_id, c.event_id AS c_id,
                coalesce(p.user_id, c.user_id) AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         RIGHT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         WHERE p.event_id IS NOT NULL
            OR epoch_ms(CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE)
                 < (SELECT wm FROM mx)
         ORDER BY c_id, p_id""",

    // Batch NOT EXISTS + the purchase-side watermark cutoff: an anti
    // verdict only emits once its window sealed.
    "stream_stream_join_anti" ->
      """WITH mx AS (SELECT least(
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'purchase'),
                       (SELECT epoch_ms(max(CAST(ts AS TIMESTAMP)))
                        FROM events WHERE event_type = 'click')) AS wm)
         SELECT p.event_id AS p_id, p.user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         WHERE NOT EXISTS (
             SELECT 1 FROM events c
             WHERE c.event_type = 'click'
               AND c.user_id = p.user_id
               AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
               AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP))
           AND epoch_ms(CAST(p.ts AS TIMESTAMP)) < (SELECT wm FROM mx)
         ORDER BY p_id""",

    // Batch EXISTS — semi matches emit eagerly, so no watermark term.
    "stream_stream_join_semi" ->
      """SELECT p.event_id AS p_id, p.user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         WHERE EXISTS (
           SELECT 1 FROM events c
           WHERE c.event_type = 'click'
             AND c.user_id = p.user_id
             AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
             AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP))
         ORDER BY p_id""",

    "sink_foreachBatch" ->
      """SELECT event_type, count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY 1""",

    // the idempotent sink must land exactly the same aggregate — the
    // oracle is the no-loss/no-duplication proof over the partitioned
    // batch_id targets
    "sink_exactly_once" ->
      """SELECT event_type, count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY 1"""
  )
}
