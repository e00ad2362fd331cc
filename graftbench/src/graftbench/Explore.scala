package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.Graft
import graft.compile.{DuckSqlShim, PipelineCompiler}
import graft.compile.PipelineCompiler.{Options, PipelineNode}
import graft.ingest.Ingest.BBox

/** The reference's own surface: one user on the map, closed loop, no
  * think time. A round replays one seeded map visit: `loadArea`,
  * pipeline edits run through `executeNow()` + `collect()` (two of them
  * re-run an unchanged pipeline), a ranked search, a DuckDB-dialect SQL
  * panel, a session save and the `dropArea` when the viewport is left.
  * Every round replays the same visit, so later rounds revisit it.
  */
object Explore extends Workload {
  val nominalRoundS = 12
  val name = "explore"

  private val keys = Seq("places/place", "buildings/building", "transportation/segment")
  private val tables = Seq("places_place", "buildings_building", "transportation_segment")

  /** One step of the session plan. */
  sealed trait Step
  final case class Visit(bbox: BBox) extends Step
  final case class Edit(nodes: Seq[PipelineNode], search: String, limit: Int) extends Step
  case object Rerun extends Step
  final case class Search(term: String) extends Step
  case object Panel extends Step

  private var features: Map[String, Seq[Inputs.Feature]] = Map.empty
  private var plan: Seq[Step] = Nil
  private var mapDir = ""

  private val panelSql =
    """SELECT _f0 AS category, display_name, id FROM places_place
      |QUALIFY row_number() OVER (PARTITION BY _f0 ORDER BY display_name, id) = 1
      |ORDER BY category""".stripMargin

  def generate(spark: SparkSession, seed: Long, size: Inputs.Size, dir: String): Seq[String] = {
    mapDir = s"$dir/map"
    features = Inputs.writeMap(spark, mapDir, seed, size)
    plan = visitPlan(seed)
    tables.map(t => s"$mapDir/$t")
  }

  private def node(id: String, t: String, op: String = "", distance: Option[Double] = None) = {
    val k = keys(tables.indexOf(t))
    PipelineNode(id, if (op.isEmpty) "source" else "combine", op, t, k, distance)
  }

  /** The seeded visit: a fixed script of steps whose viewport
    * position, terms, limit and distance the seed picks (the viewport
    * size is fixed, so the seed moves the work, not its amount).
    */
  private def visitPlan(seed: Long): Seq[Step] = {
    val r = Inputs.rng(seed, 31)
    val w = 0.1; val h = 0.075
    val x = Inputs.X0 + r.nextDouble() * (Inputs.X1 - Inputs.X0 - w)
    val y = Inputs.Y0 + r.nextDouble() * (Inputs.Y1 - Inputs.Y0 - h)
    val bbox = BBox(x, y, x + w, y + h)
    def term = if (r.nextBoolean()) Inputs.Categories(r.nextInt(Inputs.Categories.size))
               else Inputs.NameWords(r.nextInt(Inputs.NameWords.size))
    val limit = Seq(1000, 3000)(r.nextInt(2))
    val src = node("p1", "places_place")
    Seq(Visit(bbox),
      Edit(Seq(src), "", limit),
      Edit(Seq(src), term, limit),
      Edit(Seq(node("p1", "buildings_building")), "", limit),
      Edit(Seq(src, node("p2", "buildings_building", "union")), term, limit),
      Rerun,
      Edit(Seq(src, node("p2", "buildings_building", "intersect")), "", limit),
      Edit(Seq(src, node("p2", "transportation_segment", "within", Some(50.0 + r.nextInt(4) * 50))), "", limit),
      Edit(Seq(node("p1", "buildings_building"), node("p2", "places_place", "exclude")), "", limit),
      Rerun,
      Edit(Seq(node("p1", "buildings_building")), term, limit),
      Edit(Seq(node("p1", "transportation_segment")), term, limit),
      Search(term),
      Panel)
  }

  def round(ctx: Ctx, r: Int): RoundResult = {
    val spark = ctx.spark
    val tr = ctx.trace
    val g = new Graft(spark, s"${ctx.work}/state-$r")
    val sess = g.pipeline()
    val ops = mutable.ArrayBuffer[Op]()
    val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e6)
    }
    try {
      var loadedIds = Set.empty[String]
      var bbox: BBox = null
      var lastDf: Option[org.apache.spark.sql.DataFrame] = None
      plan.foreach {
        case Visit(b) =>
          bbox = b
          val (res, ms) = timed(tr.span("ingest.load_ms")(g.loadArea(mapDir, keys, Some(b))))
          val (ok, note, ids) = ctx.check {
            val perTable = tables.map { t =>
              val want = features(t).filter(_.intersects(b))
              val got = spark.table(t).select("id").collect().map(_.getString(0)).toSet
              val lr = res(keys(tables.indexOf(t)))
              val tilesTouched = want.map(_.tile).distinct.size
              counts("files_read") += lr.prunedFileCount
              counts("files") += lr.fileCount
              val good = got == want.map(_.id).toSet && lr.rowCount == want.size &&
                lr.prunedFileCount >= tilesTouched
              (good, s"$t rows=${lr.rowCount} want=${want.size} files=${lr.prunedFileCount}/$tilesTouched", got)
            }
            (perTable.forall(_._1), perTable.map(_._2).mkString("; "), perTable.flatMap(_._3).toSet)
          }
          loadedIds = ids
          ops += Op("load", ms, ok, Stats.hashOf(ids.toSeq.sorted), note)

        case Edit(nodes, search, limit) =>
          sess.nodes = nodes; sess.search = search; sess.limit = limit
          sess.bbox = Some((bbox.xmin, bbox.xmax, bbox.ymin, bbox.ymax))
          if (tr.enabled) {
            val t0 = System.nanoTime()
            PipelineCompiler.compile(nodes, Options(search = search, limit = limit, bbox = sess.bbox))
            tr.record("compile.pipeline_us", (System.nanoTime() - t0) / 1e3)
          }
          ops += runPipeline(ctx, sess, loadedIds, limit, counts, lastDf, df => lastDf = Some(df))

        case Rerun =>
          ops += runPipeline(ctx, sess, loadedIds, sess.limit, counts, lastDf, df => lastDf = Some(df))

        case Search(term) =>
          val (rows, ms) = timed(tr.span("fts.search_ms")(g.search(term, tables, limit = 10)))
          val ids = rows.map(_.getAs[String]("id"))
          val ok = ids.forall(loadedIds.contains)
          ops += Op("search", ms, ok, Stats.hashOf(rows.map(rowKey)), s"hits=${rows.size}")

        case Panel =>
          if (tr.enabled) {
            val t0 = System.nanoTime()
            DuckSqlShim.rewrite(panelSql)
            tr.record("compile.duck_rewrite_us", (System.nanoTime() - t0) / 1e3)
          }
          val (rows, ms) = timed(g.duckSql(panelSql).collect().toSeq)
          val ok = rows.forall(x => loadedIds.contains(x.getString(2)))
          ops += Op("sql", ms, ok, Stats.hashOf(rows.map(rowKey)), s"rows=${rows.size}")
      }
      val (_, saveMs) = timed(tr.span("session.write_ms") {
        g.sessionState.set("pipeline", sess.nodes.mkString("|"))
        g.sessionState.set("pipelineBbox", String.valueOf(sess.bbox))
        g.sessionState.sync()
      })
      ops += Op("save", saveMs, ok = true, "")
      val (_, dropMs) = timed(g.dropArea(keys))
      ops += Op("drop", dropMs, ok = true, "")
    } finally sess.close()
    RoundResult(ops.toSeq, counts.toMap)
  }

  private def rowKey(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.6f"
    case null => "null"
    case v => v.toString
  }.mkString(",")

  private def runPipeline(ctx: Ctx, sess: graft.runtime.PipelineSession, loadedIds: Set[String],
                          limit: Int, counts: mutable.Map[String, Double],
                          last: Option[org.apache.spark.sql.DataFrame],
                          keep: org.apache.spark.sql.DataFrame => Unit): Op = {
    val tr = ctx.trace
    val t0 = System.nanoTime()
    val (df, rows) = ctx.on("runtime.PipelineSession") {
      val d = tr.span("runtime.execute_ms")(sess.executeNow())
      (d, d.map(_.collect().toSeq).getOrElse(Nil))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val memo = df.isDefined && last.exists(_ eq df.get)
    counts("executes") += 1
    if (memo) counts("memo_hits") += 1
    df.foreach(keep)
    if (tr.enabled && !memo) df.foreach { d =>
      import scala.jdk.CollectionConverters._
      val phases = d.queryExecution.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(p => phases.get(p)).map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum
      tr.record("plans.plan_ms", planMs)
    }
    val ids = rows.map(_.getAs[String]("id"))
    val ok = df.isDefined && rows.size <= limit && ids.forall(loadedIds.contains)
    // below the limit the result set is exact; at the limit only its size is
    val hash = if (rows.size < limit) Stats.hashOf(ids.sorted) else s"n=${rows.size}"
    Op("query", ms, ok, hash, s"rows=${rows.size} limit=$limit memo=$memo " +
      sess.nodes.map(n => s"${n.op}:${n.table}").mkString(","))
  }

  def layerMetrics(ctx: Ctx, traced: Seq[RoundResult]): Map[String, Double] = {
    def sum(k: String) = traced.map(_.counts.getOrElse(k, 0.0)).sum
    Map(
      "ingest.files_read_ratio" -> (if (sum("files") > 0) sum("files_read") / sum("files") else 0.0),
      "runtime.memo_hit_ratio" -> (if (sum("executes") > 0) sum("memo_hits") / sum("executes") else 0.0))
  }

  def extraMetrics(rounds: Seq[RoundResult], wallS: Double): Map[String, (Double, String)] = {
    def p50(kind: String) = Stats.median(rounds.flatMap(_.ops.filter(_.kind == kind).map(_.ms)))
    val loaded = plan.collect { case Visit(b) => tables.map(t => features(t).count(_.intersects(b))).sum }.sum
    Map("load_p50_ms" -> (p50("load"), "ms"), "query_p50_ms" -> (p50("query"), "ms"),
      "search_p50_ms" -> (p50("search"), "ms"), "loaded_rows" -> (loaded.toDouble, "rows"))
  }
}
