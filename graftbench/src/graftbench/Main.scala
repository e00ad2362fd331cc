package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload round. `hash` is the content hash
  * of its output ("" when the round does not hash that operation).
  */
final case class Op(kind: String, ms: Double, ok: Boolean, hash: String, note: String = "")

/** One round of a workload: a fixed amount of work that every round
  * repeats identically, so per-round counts repeat exactly.
  */
final case class RoundResult(ops: Seq[Op], counts: Map[String, Double] = Map.empty,
                             cpuNs: Long = 0L) {
  def wallMs: Double = ops.map(_.ms).sum
}

/** What `Main` hands a workload. */
final class Ctx(val spark: SparkSession, val work: String, val trace: Trace,
                val listener: ModuleListener) {
  /** Runs `body` as an output check: its Spark jobs are excluded from
    * the per-layer counters.
    */
  def check[T](body: => T): T = withProp(ModuleListener.CheckProp, "1")(body)

  /** Runs `body` on behalf of the engine module `module`: jobs the
    * benchmark starts on that module's results count to it.
    */
  def on[T](module: String)(body: => T): T = withProp(ModuleListener.ModuleProp, module)(body)

  private def withProp[T](key: String, value: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, before)
  }
}

trait Workload {
  def name: String
  /** Writes the seeded inputs under `dir` (untimed); returns the
    * parquet datasets that make up the input, for the content hash.
    */
  def generate(spark: SparkSession, seed: Long, size: Inputs.Size, dir: String): Seq[String]
  /** Wall time of one round on a 4-core host, in whole seconds. */
  def nominalRoundS: Int
  /** Runs one round and checks its outputs. */
  def round(ctx: Ctx, r: Int): RoundResult
  /** Layer metrics this workload derives from its rounds and spans. */
  def layerMetrics(ctx: Ctx, traced: Seq[RoundResult]): Map[String, Double]
  /** Workload-specific figures printed beside the gated metrics, data
    * sizes included: name -> (value, unit).
    */
  def extraMetrics(rounds: Seq[RoundResult], wallS: Double): Map[String, (Double, String)]
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, size: String = "full",
                        work: String = "", goldens: String = "", record: Boolean = false)

  def parse(args: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t     => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t  => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t    => go(a.copy(trace = v == "1"), t)
      case "--size" :: v :: t     => go(a.copy(size = v), t)
      case "--work" :: v :: t     => go(a.copy(work = v), t)
      case "--goldens" :: v :: t  => go(a.copy(goldens = v), t)
      case "--record" :: t        => go(a.copy(record = true), t)
      case Nil                    => a
      case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
    }
    go(Args(), args.toList)
  }

  val workloads: Map[String, Workload] =
    Seq(Explore, IngestWorkload, Analyze).map(w => w.name -> w).toMap

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** CPU time of every thread of this JVM so far. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def startSession(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'"))
    require(a.work.nonEmpty, "--work <dir> is required")
    val size = Inputs.size(a.size)
    val inputDir = s"${a.work}/input"

    // ── inputs: generated and hashed outside every metric ──────────
    val genSpark = startSession(a.work)
    val inputPaths = wl.generate(genSpark, a.seed, size, inputDir)
    Inputs.anchorTables(genSpark, s"${a.work}/../anchor-${size.name}", inputDir, size.lineitems)
    val inputHash = Inputs.contentHash(genSpark, inputPaths)
    val inputBytes = inputPaths.map(Inputs.dirBytes).sum
    genSpark.stop()

    // ── set-up, timed five times; the last session is kept ─────────
    val startMs = mutable.ArrayBuffer[Double]()
    val registerMs = mutable.ArrayBuffer[Double]()
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until 5) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession(a.work)
      val t1 = System.nanoTime()
      graft.core.Engine.prepare(spark)
      graft.core.Tables.registerAll(spark, inputDir)
      spark.sql("SELECT COUNT(*) FROM lineitem").collect()
      val t2 = System.nanoTime()
      startMs += (t1 - t0) / 1e6
      registerMs += (t2 - t1) / 1e6
      setupS += (t2 - t0) / 1e9
    }
    // ── host-drift anchors: diagnostics, not gated ─────────────────
    val anchors = Seq("q1_pricing_summary", "q3_join_agg").map { q =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, inputDir).write.format("noop").mode("overwrite").save()
      q -> (System.nanoTime() - t0) / 1e9
    }
    // ── rounds ─────────────────────────────────────────────────────
    val trace = new Trace
    val listener = new ModuleListener
    val ctx = new Ctx(spark, a.work, trace, listener)
    // A run repeats one fixed round. How many rounds fit in `seconds`
    // follows from the workload's nominal round time, not from a clock,
    // so every run of a seed does the same work whatever the host's
    // speed. The traced run warms up with an untraced round, then runs
    // one traced and one untraced round; their ratio is the overhead.
    val rounds = mutable.ArrayBuffer[(RoundResult, Boolean)]()
    var failure: Option[Throwable] = None
    val plan =
      if (a.trace) Seq(false, true, false)
      else Seq.fill(math.max(1, a.seconds / wl.nominalRoundS))(false)
    val tStart = System.nanoTime()
    plan.zipWithIndex.foreach { case (traced, r) =>
      if (failure.isEmpty) {
        trace.enabled = traced
        if (traced) spark.sparkContext.addSparkListener(listener)
        val cpu0 = processCpuNs()
        try rounds += ((wl.round(ctx, r).copy(cpuNs = processCpuNs() - cpu0), traced))
        catch { case e: Throwable => failure = Some(e) }
        finally if (traced) spark.sparkContext.removeSparkListener(listener)
      }
    }
    val elapsed = (System.nanoTime() - tStart) / 1e9
    trace.enabled = false
    failure.foreach { e =>
      System.err.println(s"[graftbench] round ${rounds.size} failed: $e")
      e.printStackTrace()
    }

    // ── checks: every round against round 0 and the goldens ────────
    val all = rounds.map(_._1).toSeq
    val golden = Goldens.lookup(a.goldens, wl.name, a.size, a.seed)
    val ref = all.headOption.map(_.ops.map(_.hash)).getOrElse(Nil)
    var failed = 0
    var attempted = 0
    all.foreach { rr =>
      rr.ops.zipWithIndex.foreach { case (op, i) =>
        attempted += 1
        val wrongVsRef = op.hash.nonEmpty && ref.lift(i).exists(h => h.nonEmpty && h != op.hash)
        val wrongVsGolden = op.hash.nonEmpty && golden.exists(g => g.lift(i).exists(_ != op.hash))
        if (!op.ok || wrongVsRef || wrongVsGolden) {
          failed += 1
          System.err.println(s"[graftbench] failed op #$i ${op.kind}: ok=${op.ok} " +
            s"hash=${op.hash} ref=${ref.lift(i).getOrElse("")} " +
            s"golden=${golden.flatMap(_.lift(i)).getOrElse("-")} ${op.note}")
        }
      }
    }
    if (failure.isDefined) { failed += 1; attempted += 1 }
    if (golden.exists(_.size != ref.size)) {
      failed += 1
      System.err.println(s"[graftbench] op count ${ref.size} differs from golden ${golden.get.size}")
    }
    val correct = failed == 0 && all.nonEmpty

    // ── metrics ────────────────────────────────────────────────────
    val tracedRounds = rounds.filter(_._2).map(_._1).toSeq
    val measured = (if (a.trace) rounds.drop(2) else rounds).filter(!_._2).map(_._1).toSeq
    val opMs = measured.flatMap(_.ops.map(_.ms))
    val wallS = Stats.median(measured.map(_.wallMs / 1000))

    // used heap after full collections; the least of three readings
    val heapMb = (0 until 3).map { _ =>
      System.gc(); Thread.sleep(50)
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("wall_s", wallS, "s"),
      ("cpu_s", Stats.median(measured.map(_.cpuNs / 1e9)), "s"),
      ("heap_retained_mb", heapMb, "MB"))
    // per-operation percentiles are printed, not gated: a run holds
    // 2 to 16 operations, and a tail percentile is only read with ten
    // samples beyond it
    val extra = wl.extraMetrics(measured, wallS) ++
      Map("op_p50_ms" -> (Stats.quantile(opMs, 0.5), "ms")) ++
      (if (opMs.size >= 100) Map("op_p90_ms" -> (Stats.quantile(opMs, 0.9), "ms")) else Map.empty)
    val failRatio = failed.toDouble / math.max(1, attempted)

    val layer: Seq[(String, Double)] =
      if (!a.trace) Nil
      else Layers.assemble(ctx, wl, tracedRounds, measured, startMs.toSeq, registerMs.toSeq)

    val diag = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> a.seed.toString,
      "size" -> Json.str(a.size), "input_hash" -> Json.str(inputHash),
      "rounds" -> all.size.toString, "traced_rounds" -> tracedRounds.size.toString,
      "ops" -> opMs.size.toString, "measured_s" -> Json.num(elapsed),
      "fail_ratio" -> Json.num(failRatio),
      "anchors_s" -> Json.obj(anchors.map { case (k, v) => k -> Json.num(v) }),
      "setup_samples_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "workload_metrics" -> Json.obj(extra.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "input_bytes" -> inputBytes.toString,
      "op_kinds" -> Json.obj(measured.flatMap(_.ops).groupBy(_.kind).toSeq.sortBy(_._1).map {
        case (k, os) => k -> Json.obj(Seq("n" -> os.size.toString,
          "p50_ms" -> Json.num(Stats.median(os.map(_.ms))), "sum_ms" -> Json.num(os.map(_.ms).sum)))
      }),
      "round_hashes" -> Json.str(Stats.hashOf(ref))))
    println("DIAG " + diag)
    if (a.record) println("GOLDEN " + Json.obj(Seq(
      Goldens.key(wl.name, a.size, a.seed) -> ref.map(Json.str).mkString("[", ",", "]"))))

    val metrics =
      if (a.trace) layer.map { case (k, v) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(Layers.unit(k)))) }
      else e2e.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }

    spark.stop()
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics))))
    System.out.flush()
    if (failure.isDefined) sys.exit(1)
  }
}

/** Minimal JSON text builders (values arrive pre-encoded). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Golden per-op output hashes, keyed by workload, size and seed. */
object Goldens {
  def key(workload: String, size: String, seed: Long): String = s"$workload/$size/$seed"

  def lookup(path: String, workload: String, size: String, seed: Long): Option[Seq[String]] =
    if (path.isEmpty || !new java.io.File(path).exists()) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path)).get(key(workload, size, seed))
      Option(node).map { n =>
        import scala.jdk.CollectionConverters._
        n.elements().asScala.map(_.asText()).toSeq
      }
    }
}
