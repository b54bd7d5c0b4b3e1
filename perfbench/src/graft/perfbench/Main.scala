package graft.perfbench

import graft.ops.TableOps
import graft.pipeline.{IncrementalEtl, SeedTables}
import graft.tables.{CheckpointStore, CommitLog, KeyedTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Sizes of one workload. Each cycle upserts `incNew` new and `incUpd`
  * updated orders and `custUpd` customers, then runs `readRounds` read
  * rounds of `lookups`-key lookups. `cycleS` is the nominal wall of one
  * cycle on a 4-core machine: the cycle count is fixed from `--seconds`
  * and it, so every run replays the same operation sequence.
  */
final case class Sizes(customers: Int, orders: Long, incNew: Int, incUpd: Int,
    custUpd: Int, readRounds: Int, lookups: Int, cycleS: Double) {
  def scaled(f: Double): Sizes = {
    def s(n: Int, floor: Int) = math.max(floor, math.round(n * f).toInt)
    Sizes(s(customers, 10), math.max(100L, math.round(orders * f)), s(incNew, 12),
      s(incUpd, 2), s(custUpd, 1), readRounds, math.min(lookups, 12), cycleS)
  }
}

object Main {
  /** Commits `clean` keeps. Small, so the files it deletes are seconds
    * old: on a file system mounted with online discard, deleting files
    * the page cache has already written back costs ~30 ms per MB, which
    * would time the disk instead of the program.
    */
  val Retain = 3
  /** Untimed cycles before the timed ones: as many as `Retain`, so the
    * set-up's table versions are dropped by a warm-up clean, and every
    * version a timed clean drops was written a few cycles earlier.
    */
  val WarmCycles = Retain
  /** Seed-and-bootstrap set-ups per run; `setup_s` takes their median.
    * Traced and scaled-down runs set up once: they report no set-up time
    * that is gated.
    */
  val SetUps = 3

  val workloads: Map[String, Sizes] = Map(
    "etl_small" -> Sizes(10000, 75000L, 2250, 750, 100, readRounds = 4, lookups = 100, 3.2),
    "etl_large" -> Sizes(10000, 600000L, 2250, 750, 100, readRounds = 0, lookups = 0, 3.4))

  val incrementSteps = Seq("silver_upsert", "gold_etl", "clean")
  /** Left out of the gated timings. `clean` runs in every cycle, but on a
    * disk like the benchmark's its wall is the host's latency for
    * deleting files: 0.004 s to 5 s for the same deletes, in spells of
    * several cycles, while the upserts and the ETL around it vary by
    * about 10%. Its cost is reported per layer (`clean_s`, `clean.fs_*`)
    * and its effect in `stored_bytes_per_row`.
    */
  val ungatedSteps = Set("clean")
  val readSteps = Seq("scan", "lookup", "incr_read", "empty_poll")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val scale = opts.getOrElse("scale", "1").toDouble
    val sizes = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (known: ${workloads.keys.mkString(", ")})"))
      .scaled(scale)
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    log(s"table roots under $work (${Files.getFileStore(work).`type`})")
    val sentinelBefore = sentinel()
    val t0 = System.nanoTime()
    val spark = session(workload, work, traced)
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val setups = if (traced || scale < 1) 1 else SetUps
      val run = new Run(spark, workload, sizes, opts("seed").toLong, work, traced,
        setups, opts.getOrElse("sabotage", "0") == "1")
      println("PERFBENCH_RESULT " + run.execute(opts("seconds").toDouble, sessionS, sentinelBefore))
      System.out.flush()
    } catch {
      case NonFatal(e) => spark.stop(); throw e
    }
    // the result is out: skip the JVM's slow shutdown hooks (the caller
    // deletes the work directory)
    Runtime.getRuntime.halt(0)
  }

  def session(workload: String, work: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed, data-independent CPU work; the machine yardstick. */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) System.err.println("sentinel hit zero")
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def log(msg: String): Unit = System.err.println(
    f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f] $msg")
}

/** Pass/fail per operation; `ok_ratio` = passed / attempted. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  def record(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; Main.log(s"CHECK FAILED $what $detail") }
  }
}

final class Run(spark: SparkSession, workload: String, sizes: Sizes, seed: Long,
    work: Path, traced: Boolean, setups: Int, sabotage: Boolean) {
  import Main._

  private val tracer = new Tracer(spark, traced)
  private val checks = new Checks
  private val model = new Model(seed, sizes.customers)
  private var fingerprint = (0L, 0L)
  private var base = ""
  private def ordersT = SeedTables.ordersTable(base)
  private def customersT = SeedTables.customersTable(base)
  private def goldT = IncrementalEtl.goldTable(base)
  private def tables = Seq(ordersT, customersT, goldT)
  private def root: Path = Paths.get(new java.net.URI(base))

  // end-to-end accounting over timed cycles; the gated calls of a cycle
  // are both silver upserts, the gold ETL and the reads
  private val gatedCalls = 2 + 1 + readSteps.size * sizes.readRounds
  private var bytesWritten = 0L
  private var rowsUpserted = 0L

  /** The measured run: set-up, warm-up, the fixed timed sequence, checks. */
  def execute(seconds: Double, sessionS: Double, sentinelBefore: Double): String = {
    fingerprintSeed()
    val seedS = setUp()
    val w0 = System.nanoTime()
    (0 until WarmCycles).foreach(c => cycle(-1 - c, c))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + seedS + warmS
    log(f"session $sessionS%.3f s, set-up median $seedS%.3f s, warm-up $warmS%.3f s, setup_s $setupS%.3f")

    // a traced run traces every other cycle; it needs two to pair them
    val cycles = math.max(if (traced) 2 else 1, math.round(seconds / sizes.cycleS).toInt)
    (0 until cycles).foreach(c => cycle(c, WarmCycles + c))
    log(tracer.units.map(u => f"${u.index}:${u.wall}%.3f${if (u.traced) "t" else ""}")
      .mkString("cycle walls ", " ", ""))
    // where each cycle's wall went, so a slow spell can be traced to a step
    tracer.steps.groupBy(_.unit).toSeq.sortBy(_._1).foreach { case (u, ss) =>
      val byStep = ss.groupBy(_.step)
      log((incrementSteps ++ readSteps).flatMap(st => byStep.get(st).map(xs =>
        f"$st ${xs.map(s => (s.t1 - s.t0) / 1000.0).sum}%.3f")).mkString(s"cycle $u steps: ", ", ", ""))
    }
    finalChecks()
    val heapMb = retainedHeapMb()
    val stored = treeBytes(root).values.sum
    val liveRows = model.nOrders.toLong * 2 + sizes.customers
    val sentinelAfter = sentinel()
    log(f"sentinel before $sentinelBefore%.3f s, after $sentinelAfter%.3f s")
    log(s"fingerprint workload=$workload seed=$seed rows=${fingerprint._1} hash=${fingerprint._2}")
    result(
      if (traced) perLayer((sentinelBefore + sentinelAfter) / 2)
      else endToEnd(setupS, stored.toDouble / liveRows, heapMb))
  }

  // ---------------------------------------------------------------- setup

  /** Seed and bootstrap `setups` times from scratch, keep the last copy;
    * returns the median set-up wall.
    */
  private def setUp(): Double = {
    val times = (1 to setups).map { i =>
      base = work.resolve(s"setup$i").toUri.toString.stripSuffix("/")
      val s0 = System.nanoTime()
      TableOps.upsert(spark, customersT, Gen.seedCustomers(spark, seed, sizes.customers))
      val ts = TableOps.upsert(spark, ordersT,
        Gen.seedOrders(spark, seed, sizes.customers, sizes.orders))
      IncrementalEtl.run(spark, base)
      val s = (System.nanoTime() - s0) / 1e9
      dropShuffles()
      // a discarded copy goes now, while young: left for the run's end, it
      // is written back mid-run and its writeback slows the timed cycles
      if (i < setups) deleteTree(root)
      else model.applyOrders((0L until sizes.orders).toArray,
        new Array[Int](sizes.orders.toInt), ts)
      log(f"set-up $i: $s%.3f s")
      s
    }
    median(times)
  }

  private def fingerprintSeed(): Unit = {
    val nCust = sizes.customers
    val expected = (
      sizes.orders + nCust,
      java.util.stream.LongStream.range(0L, sizes.orders).parallel()
        .map(k => Gen.rowHash(Gen.order(seed, nCust, k, 0))).sum() +
        java.util.stream.LongStream.range(0L, nCust.toLong).parallel()
          .map(c => Gen.rowHash(Gen.customer(seed, c.toInt, 0))).sum())
    val (on, oh) = Gen.fingerprint(Gen.seedOrders(spark, seed, nCust, sizes.orders))
    val (cn, ch) = Gen.fingerprint(Gen.seedCustomers(spark, seed, nCust))
    addFingerprint("seed batches", (on + cn, oh + ch), expected)
  }

  private def addFingerprint(what: String, got: (Long, Long), expected: (Long, Long)): Unit = {
    checks.record(s"fingerprint $what", got == expected, s"got $got expected $expected")
    fingerprint = (fingerprint._1 + expected._1, Gen.mix(fingerprint._2 ^ expected._2))
  }

  private def batchFingerprint(what: String, df: DataFrame, rows: Seq[Row]): Unit =
    addFingerprint(what, Gen.fingerprint(df),
      (rows.size.toLong, rows.map(Gen.rowHash).sum))

  // ---------------------------------------------------------------- cycles

  /** Results of one read round, checked after the cycle. */
  private final case class ReadRound(probe: Array[Long], scan: Option[Array[Row]],
      found: Option[Array[Row]], pulled: Option[Array[Row]], range: (String, String),
      polled: Boolean)

  /** One cycle: the increment (silver upserts of both tables, the gold ETL,
    * the inline clean of all three tables), then `readRounds` read rounds
    * beside it. `index` < 0 is warm-up.
    */
  private def cycle(index: Int, c: Int): Unit = {
    val rng = new SplittableRandom(Gen.h(seed, 100, c.toLong, 0))
    val (oKeys, oVers) = model.ordersIncrement(rng, sizes.incNew, sizes.incUpd)
    val (cIdx, cVers) = model.customersUpdate(rng, sizes.custUpd)
    val odf = Gen.ordersFrame(spark, seed, sizes.customers, oKeys, oVers)
    val cdf = Gen.customersFrame(spark, seed, cIdx, cVers)
    batchFingerprint(s"orders increment $c", odf,
      oKeys.indices.map(i => Gen.order(seed, sizes.customers, oKeys(i), oVers(i))))
    batchFingerprint(s"customers update $c", cdf,
      cIdx.indices.map(i => Gen.customer(seed, cIdx(i), cVers(i))))
    // a warm-up cycle runs one read round: one compiles the read paths,
    // and the time the others would take goes to timed cycles instead
    val rounds = if (index < 0) math.min(1, sizes.readRounds) else sizes.readRounds
    // lookups probe existing keys and 10 of this increment's new ones, so
    // the increment must be visible to the reads beside it
    val probes = (0 until rounds).map { r =>
      val p = Gen.sample(new SplittableRandom(Gen.h(seed, 200, c.toLong, r)),
        model.nOrders, sizes.lookups).map(_.toLong)
      oKeys.take(math.min(10, sizes.incNew)).zipWithIndex.foreach { case (k, i) => p(i) = k }
      p
    }
    val probeFrames = probes.map(p => spark.createDataFrame(
      spark.sparkContext.parallelize(p.map(k => Row(Gen.orderId(seed, k))).toSeq, 1),
      StructType(Seq(StructField("order_id", StringType, nullable = false)))))
    val goldBefore = commits(goldT)
    val before = treeBytes(root)
    var oTs, cTs = Option.empty[String]
    var etlOk, cleanOk = false
    var reads = Seq.empty[ReadRound]
    tracer.unit(index, traceable = index % 2 == 0) {
      oTs = op("silver_upsert", oKeys.length)(TableOps.upsert(spark, ordersT, odf))
      cTs = op("silver_upsert", cIdx.length)(TableOps.upsert(spark, customersT, cdf))
      etlOk = op("gold_etl", oKeys.length)(IncrementalEtl.run(spark, base)).isDefined
      cleanOk = tables.map(t => op("clean")(TableOps.clean(spark, t, Retain))).forall(_.isDefined)
      reads = probes.zip(probeFrames).map { case (p, keys) => readRound(p, keys) }
    }
    oTs.foreach(ts => model.applyOrders(oKeys, oVers, ts))
    cTs.foreach(_ => model.applyCustomers(cIdx, cVers))
    dropShuffles()
    if (index >= 0) {
      val after = treeBytes(root)
      bytesWritten += after.collect { case (f, n) if !before.contains(f) => n }.sum
      rowsUpserted += oKeys.length + cIdx.length
    }
    checkUpsert("orders upsert", ordersT, oTs)
    checkUpsert("customers upsert", customersT, cTs)
    checkEtl("gold etl", etlOk, goldBefore)
    val kept = tables.map(commits(_).size)
    checks.record("clean", cleanOk && kept.forall(_ <= Retain), s"commits kept $kept")
    reads.foreach(checkReads)
  }

  /** The gold top-customers aggregate, a key lookup on orders, an
    * incremental pull of the last two orders commits and an empty poll.
    */
  private def readRound(probe: Array[Long], keys: DataFrame): ReadRound = {
    val scan = opRows("scan")(topCustomers().collect())
    val found = opRows("lookup")(TableOps.lookupKeys(spark, ordersT, keys).collect())
    var range = ("", "")
    val pulled = opRows("incr_read") {
      val cs = CommitLog(ordersT, spark).listCommits()
      range = (if (cs.size >= 3) cs(cs.size - 3) else "", cs.last)
      TableOps.incremental(spark, ordersT, range._1, Some(range._2)).collect()
    }
    val polled = op("empty_poll")(IncrementalEtl.run(spark, base)).isDefined
    ReadRound(probe, scan, found, pulled, range, polled)
  }

  private def checkReads(r: ReadRound): Unit = {
    checks.record("scan", r.scan.exists(_.map(Gen.text).toSeq == model.topCustomers(10)))
    val expected = r.probe.distinct.map(model.orderText).sorted.toSeq
    val sab = if (sabotage) expected.drop(1) else expected
    checks.record("lookup", r.found.exists(_.map(orderText).sorted.toSeq == sab),
      s"got ${r.found.map(_.length)} rows, expected ${sab.size}")
    checks.record("incr_read", r.pulled.exists(_.map(orderText).sorted.toSeq ==
      model.ordersIn(r.range._1, r.range._2).map(model.orderText).sorted), s"range ${r.range}")
    // the cycle's gold commit check (one new commit) proves the polls added none
    checks.record("empty_poll", r.polled)
  }

  /** An orders row without its commit stamp, in canonical text. */
  private def orderText(r: Row): String =
    Gen.text(Row.fromSeq(r.toSeq.take(Gen.ordersSchema.size)))

  /** The gold top-customers aggregate — the reference's group / order-by /
    * limit query shape over the gold snapshot.
    */
  private def topCustomers(): DataFrame =
    TableOps.snapshot(spark, goldT)
      .groupBy("customer_id", "customer_name")
      .agg(sum("order_value").as("total"), count(lit(1)).as("n"))
      .orderBy(desc("total"), asc("customer_id"))
      .limit(10)

  private def op[A](step: String, rowsIn: Long = 0)(body: => A): Option[A] =
    try Some(tracer.step(step, rowsIn)((body, 0L)))
    catch { case NonFatal(e) => log(s"$step threw: $e"); None }

  private def opRows(step: String)(body: => Array[Row]): Option[Array[Row]] =
    try Some(tracer.step(step) { val rows = body; (rows, rows.length.toLong) })
    catch { case NonFatal(e) => log(s"$step threw: $e"); None }

  // ---------------------------------------------------------------- checks

  private def commits(t: KeyedTable): Seq[String] = CommitLog(t, spark).listCommits()

  private def checkUpsert(what: String, t: KeyedTable, ts: Option[String]): Unit =
    checks.record(what, ts.exists(x => x.nonEmpty && commits(t).lastOption.contains(x)),
      s"commit $ts")

  private def ordersCheckpoint(): Option[String] =
    new CheckpointStore(s"$base/checkpoints", spark.sparkContext.hadoopConfiguration)
      .get(ordersT.name).map(_.lastProcessedCommit)

  /** The cycle added exactly one gold commit (the ETL's; empty polls add
    * none) and the ETL moved the orders checkpoint to the latest orders
    * commit.
    */
  private def checkEtl(what: String, ran: Boolean, goldBefore: Seq[String]): Unit = {
    val cp = ordersCheckpoint()
    val latest = commits(ordersT).lastOption
    val goldNew = commits(goldT).filter(_ > goldBefore.lastOption.getOrElse(""))
    checks.record(what, ran && cp == latest && goldNew.size == 1,
      s"checkpoint $cp latest $latest new gold commits ${goldNew.size}")
  }

  private def finalChecks(): Unit = {
    val gold = TableOps.snapshot(spark, goldT).drop(KeyedTable.CommitCol)
    val c = TableOps.snapshot(spark, customersT)
    val o = TableOps.snapshot(spark, ordersT)
    val join = c.join(o, "customer_id").select(
      c("customer_id"), c("name").as("customer_name"), c("email"),
      o("order_id"), o("name").as("order_name"), o("order_value"))
    val goldOk = try gold.exceptAll(join).isEmpty && join.exceptAll(gold).isEmpty
    catch { case NonFatal(e) => log(s"gold check threw: $e"); false }
    checks.record("gold equals silver join", goldOk)
    val expectOrders = model.nOrders.toLong + (if (sabotage) 1 else 0)
    val nOrders = o.count()
    checks.record("orders rows", nOrders == expectOrders, s"$nOrders vs $expectOrders")
    checks.record("customers rows", c.count() == sizes.customers)
    checks.record("orders checkpoint", ordersCheckpoint() == commits(ordersT).lastOption)
  }

  // ---------------------------------------------------------------- bytes

  /** Deletes the shuffle files of the calls so far, between spans, while
    * they are young (see [[Main.Retain]]), instead of leaving them to
    * Spark's GC-driven cleaner, which deletes at random points inside
    * later spans.
    */
  private def dropShuffles(): Unit = org.apache.spark.perfbench.Drain.removeShuffles(spark.sparkContext)

  private def treeBytes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  private def retainedHeapMb(): Double = {
    spark.sharedState.cacheManager.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  // ---------------------------------------------------------------- metrics

  private def endToEnd(setupS: Double, storedPerRow: Double, heapMb: Double): Seq[(String, Double, String)] = {
    val timed = tracer.units.filter(_.index >= 0)
    def sumBy(keep: StepSpan => Boolean): Map[Int, Double] = tracer.steps.filter(keep)
      .groupBy(_.unit).map { case (u, ss) => u -> ss.map(s => (s.t1 - s.t0) / 1000.0).sum }
    val increments = sumBy(s => incrementSteps.contains(s.step) && !ungatedSteps(s.step))
    val ungated = sumBy(s => ungatedSteps(s.step))
    Seq(
      ("increment_s", median(timed.map(u => increments.getOrElse(u.index, 0.0)).toSeq), "s"),
      // gated calls over the median cycle wall less its ungated steps: a
      // slow spell of the machine in one cycle moves a mean, not a median
      ("ops_per_s", gatedCalls / median(timed.map(u => u.wall - ungated.getOrElse(u.index, 0.0)).toSeq), "1/s"),
      ("write_bytes_per_row", bytesWritten.toDouble / math.max(1L, rowsUpserted), "B"),
      ("stored_bytes_per_row", storedPerRow, "B"),
      ("setup_s", setupS, "s"),
      ("heap_retained_mb", heapMb, "MB"),
      ("ok_ratio", (checks.attempted - checks.failed).toDouble / checks.attempted, "ratio"))
  }

  private def perLayer(sentinelS: Double): Seq[(String, Double, String)] = {
    // increment steps: one sample per cycle; read steps: one per call
    val stats = tracer.stepStats(perCall = readSteps.toSet)
    // the samples themselves, for reading a run by eye
    stats.toSeq.sortBy(_._1).foreach { case (step, xs) => xs.foreach { st =>
      log(f"span $step wall ${st.wall}%.3f job ${st.job}%.3f plan ${st.plan}%.3f " +
        f"cpu ${st.cpu}%.3f fs ${st.fsS}%.3f/${st.fsCalls}") } }
    val units = tracer.units.filter(_.index >= 0)
    val tracedUnits = units.filter(_.traced)
    val stepWall = tracer.steps.groupBy(_.unit).map { case (u, ss) =>
      u -> ss.map(s => (s.t1 - s.t0) / 1000.0).sum }
    val perStep = (incrementSteps ++ readSteps).flatMap { step =>
      val xs = stats.getOrElse(step, Nil)
      // the breakdown of the median sample, so the layers add up to its wall
      val sorted = xs.sortBy(_.wall)
      val mid: StepStats =
        if (sorted.isEmpty) StepStats()
        else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)).scale(0.5)
      def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
      val p75 =
        if (readSteps.contains(step)) Seq((s"${step}_p75_s", quantile(xs.map(_.wall), 0.75), "s"))
        else Nil
      val extra = step match {
        case "silver_upsert" | "gold_etl" =>
          Seq((s"$step.rewrite_ratio", ratio(mid.recordsWritten, mid.rowsIn), "ratio"))
        case "lookup" | "incr_read" =>
          Seq((s"$step.read_ratio", ratio(mid.recordsRead, mid.rowsOut), "ratio"))
        case _ => Nil
      }
      Seq((s"${step}_s", mid.wall, "s")) ++ p75 ++ Seq(
        (s"$step.plan_s", mid.plan, "s"),
        (s"$step.job_s", mid.job, "s"),
        (s"$step.driver_s", mid.wall - mid.job, "s"),
        (s"$step.task_cpu_s", mid.cpu, "s"),
        (s"$step.jobs", mid.jobs.toDouble, "count"),
        (s"$step.bytes_read", mid.bytesRead.toDouble, "B"),
        (s"$step.bytes_written", mid.bytesWritten.toDouble, "B"),
        (s"$step.records_written", mid.recordsWritten.toDouble, "count"),
        (s"$step.shuffle_bytes", mid.shuffle.toDouble, "B"),
        (s"$step.spill_bytes", mid.spill.toDouble, "B"),
        (s"$step.fs_calls", mid.fsCalls.toDouble, "count"),
        (s"$step.fs_list", mid.fsList.toDouble, "count"),
        (s"$step.fs_s", mid.fsS, "s")) ++ extra
    }
    val selfS = tracedUnits.map(u => u.wall - stepWall.getOrElse(u.index, 0.0)).toSeq
    val coverage = tracedUnits.map(u => stepWall.getOrElse(u.index, 0.0) / u.wall)
    // each traced cycle against the untraced cycle after it, so a slow
    // spell of the machine falls on both sides of a ratio
    val untraced = units.filterNot(_.traced).map(u => u.index -> u.wall).toMap
    val overhead = median(tracedUnits.flatMap(u => untraced.get(u.index + 1).map(u.wall / _)).toSeq)
    perStep ++ Seq(
      ("cycle_self_s", median(selfS), "s"),
      ("span_coverage", if (coverage.isEmpty) 0.0 else coverage.min, "ratio"),
      ("trace_overhead", overhead, "ratio"),
      ("sentinel_s", sentinelS, "s"))
  }

  private def result(metrics: Seq[(String, Double, String)]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"attempted": ${checks.attempted}, "failed": ${checks.failed}, "metrics": {${m.mkString(", ")}}}"""
  }
}
