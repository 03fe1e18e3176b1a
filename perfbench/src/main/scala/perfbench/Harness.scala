package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** JSON output through Jackson's Scala module, from Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Runs one workload in one JVM and writes what it measured to a JSON file.
  *
  * The program is reached only through its driver contract,
  * `graft.SparkEntry.queries(name)(spark, dir)`, and observed only through
  * Spark's public listener APIs.
  *
  * A run is: session start, one untimed warm call per op (its output is
  * written as parquet for the DuckDB check, and the fingerprint of that
  * parquet is the reference), then at least two timed passes over the op
  * list, until `--seconds` have elapsed; while no untraced pass ran with
  * at most `CleanSteal` of the host's CPU time stolen by the hypervisor,
  * more passes follow, up to `--max-seconds`. Every execution is
  * fingerprinted and compared with the reference; one that throws or
  * mismatches is a failure and never a timing. With `--trace 1` the timed passes alternate untraced and
  * traced, and the traced ones feed the per-layer report.
  *
  * Usage: Harness --data DIR --ops a,b --seconds S [--max-seconds M]
  *   --trace 0|1 --cores N --out FILE --outputs DIR --local DIR
  *   [--spans FILE] [--fault-op NAME]
  *
  * `--fault-op NAME` makes every timed execution of NAME throw after the op
  * has run, which is how the self-test checks the failure accounting.
  */
object Harness {
  val BarrierPrefix = "perfbench-barrier-"

  /** Full evaluation: a per-row xxhash64 of every output column, folded
    * with bit_xor, plus the row count. The pair is the op's fingerprint. */
  def force(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toIndexedSeq.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The one copy of the between-op cleanup, always outside the timed
    * windows: blocking unpersist of the op's new RDDs, stop any active
    * stream, drop the memory-sink views, stop the state stores, collect.
    * Returns how many RDDs the op left persisted after it. */
  def cleanup(spark: SparkSession, before: Set[Int]): Int = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = true))
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_mem_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
    sc.getPersistentRDDs.keySet.count(id => !before(id))
  }

  /** Jiffies of all CPUs, from /proc/stat: busy (user + nice + system +
    * irq + softirq), stolen by the hypervisor, and total. */
  final case class Cpu(busy: Long, steal: Long, total: Long) {
    def -(o: Cpu): Cpu = Cpu(busy - o.busy, steal - o.steal, total - o.total)
  }

  private def cpuJiffies(): Cpu = {
    val f = Using.resource(scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
      .split("\\s+").drop(1).take(8).map(_.toLong)
    Cpu(f(0) + f(1) + f(2) + f(5) + f(6), f(7), f.sum)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** A timed pass: traced or not, the sum of its op times, its length, and
    * the share of the host's non-idle CPU time stolen by the hypervisor. */
  final case class PassRec(traced: Boolean, wall: Double, seconds: Double, steal: Double)

  /** Steal share up to which a pass counts as undisturbed. */
  val CleanSteal = 0.03

  final class OpStats {
    var ref: Option[(Long, Long)] = None
    var warmError: Option[String] = None
    var warmS = 0.0
    val times = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Cpu] // host CPU jiffies of each timed execution
    val epochMs = ArrayBuffer.empty[Seq[Double]]
    var attempts, failures = 0
    val errors = ArrayBuffer.empty[String]
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = a("data")
    val ops = a("ops").split(",").toSeq
    val seconds = a("seconds").toDouble
    val maxSeconds = a.get("max-seconds").map(_.toDouble).getOrElse(seconds)
    val traced = a("trace") == "1"
    val cores = a("cores")
    val faultOp = a.get("fault-op")
    val mainStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local"))
      .config("spark.sql.warehouse.dir", s"${a("local")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = graft.SparkEntry.queries
    val epochs = new EpochListener
    spark.streams.addListener(epochs)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val stats = ops.map(_ -> new OpStats).toMap
    val outputs = a("outputs")
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(s"$outputs/oracle_sql.json"),
      Json.write(ops.flatMap(op => oracle.get(op).map(op -> _)).toMap).getBytes("UTF-8"))

    // Warm call per op, untimed and charged to set-up: its output is
    // written as parquet for the DuckDB check, and the reference
    // fingerprint is taken from that parquet read back, so the reference
    // is exactly the output the check validates.
    val tw = System.nanoTime()
    ops.foreach { op =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val st = stats(op)
      st.attempts += 1
      val w0 = System.nanoTime()
      try {
        val df = queries(op)(spark, dataDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outputs/$op")
        st.warmS = (System.nanoTime() - w0) / 1e9
        st.ref = Some(force(spark.read.parquet(s"$outputs/$op")))
      } catch {
        case e: Throwable =>
          st.failures += 1
          st.warmError = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      cleanup(spark, before)
    }
    val warmS = (System.nanoTime() - tw) / 1e9

    val recorder = new Recorder
    val tracedRuns = ArrayBuffer.empty[Seq[OpRun]]
    val untracedRuns = ArrayBuffer.empty[OpRun]
    val leaked = ArrayBuffer.empty[Int]
    val passes = ArrayBuffer.empty[PassRec]

    def barrier(tag: String): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(BarrierPrefix + tag)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 60000
      // The listener queue is FIFO: once the barrier job's start has been
      // delivered, so has every event the pass posted before it.
      while (recorder.barrierSeen != BarrierPrefix + tag &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
    }

    def runPass(pass: Int, trace: Boolean): Unit = {
      if (trace) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val runs = ArrayBuffer.empty[OpRun]
      var wall = 0.0
      val p0 = System.nanoTime(); val j0 = cpuJiffies()
      var passLeaked = 0
      ops.foreach { op =>
        val st = stats(op)
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        st.attempts += 1
        val j0 = cpuJiffies()
        val c0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        try {
          val df = queries(op)(spark, dataDir)
          if (faultOp.contains(op)) throw new IllegalStateException(s"injected fault in $op")
          val c1 = System.currentTimeMillis()
          val fp = force(df)
          val c2 = System.currentTimeMillis(); val n2 = System.nanoTime()
          if (st.ref.contains(fp)) {
            // end-to-end timings come from untraced passes only
            if (!trace) {
              st.times += (n2 - n0) / 1e9
              st.cpu += cpuJiffies() - j0
            }
            wall += (n2 - n0) / 1e9
            runs += OpRun(pass, op, Window(c0, c1), Window(c1, c2))
          } else {
            st.failures += 1
            st.errors += s"fingerprint $fp differs from reference ${st.ref}"
          }
        } catch {
          case e: Throwable =>
            st.failures += 1
            st.errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        passLeaked += cleanup(spark, before)
      }
      val j = cpuJiffies() - j0
      passes += PassRec(trace, wall, (System.nanoTime() - p0) / 1e9,
        j.steal.toDouble / math.max(1L, j.busy + j.steal))
      if (trace) {
        barrier(pass.toString)
        spark.listenerManager.unregister(recorder)
        spark.sparkContext.removeSparkListener(recorder)
        tracedRuns += runs.toSeq
        leaked += passLeaked
      } else untracedRuns ++= runs
    }

    val tm = System.nanoTime()
    val cpu0 = cpuJiffies()
    var pass = 0
    def elapsed = (System.nanoTime() - tm) / 1e9
    def need(trace: Boolean) = !passes.exists(_.traced == trace)
    // While no untraced pass ran with little CPU steal, run more, up to
    // --max-seconds, as long as one more pass still fits.
    def stolen = !passes.exists(p => !p.traced && p.steal <= CleanSteal) &&
      elapsed + passes.last.seconds <= maxSeconds
    // At least two timed passes, so every op has a fastest pass to report.
    // Traced runs end on an untraced pass, so every traced pass has an
    // untraced one on each side to measure the tracing overhead against.
    while (pass < 2 || elapsed < seconds ||
        (traced && (need(true) || need(false) || passes.last.traced)) || stolen) {
      runPass(pass, traced && pass % 2 == 1)
      pass += 1
    }
    val measuredS = elapsed
    val cpuT = cpuJiffies() - cpu0
    // share of CPU time the hypervisor gave to other guests while timing
    val stealFrac = cpuT.steal.toDouble / math.max(1L, cpuT.total)
    val rss = peakRssMb()
    // Stopping the context drains the listener bus, so every event of the
    // timed passes has been delivered before the windows are cut.
    spark.stop()

    // End-to-end epoch times: each untraced op run's epochs
    untracedRuns.foreach { r =>
      stats(r.op).epochMs += epochs.epochs.filter(e => r.all.contains(e.start))
        .map(_.ms.toDouble).toSeq
    }

    val layerPasses = tracedRuns.zip(leaked).map { case (runs, l) =>
      Layers.pass(runs, recorder, epochs, l)
    }
    val layers: Map[String, Double] =
      if (layerPasses.isEmpty) Map.empty
      else layerPasses.head.keys.map(k => k -> Stats.median(layerPasses.map(_(k)).toSeq)).toMap
    a.get("spans").filter(_ => traced).foreach { f =>
      Files.write(Paths.get(f), Layers.spans(tracedRuns.flatten.toSeq, recorder, epochs)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val opsJson = stats.map { case (op, st) =>
      op -> Map("ref" -> st.ref.map { case (n, h) => Seq(n, h) },
        "warm_error" -> st.warmError, "warm_s" -> st.warmS, "times" -> st.times.toSeq,
        "busy_j" -> st.cpu.map(_.busy).toSeq, "steal_j" -> st.cpu.map(_.steal).toSeq,
        "epoch_ms" -> st.epochMs.toSeq,
        "attempts" -> st.attempts, "failures" -> st.failures,
        "errors" -> st.errors.distinct.toSeq)
    }
    val result = Json.write(Map(
      "main_start_ms" -> mainStartMs, "session_s" -> sessionS, "warm_s" -> warmS,
      "measured_s" -> measuredS, "passes" -> pass, "peak_rss_mb" -> rss,
      "steal_frac" -> stealFrac,
      "pass_walls" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wall,
        "steal" -> p.steal)).toSeq,
      "layers" -> layers, "ops" -> opsJson))
    Files.write(Paths.get(a("out")), result.getBytes("UTF-8"))
  }
}
