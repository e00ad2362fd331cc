package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{IndexStore, IngestPipeline}

/** The write path: contiguous-id shards of a synthesized web crawl fed
  * one at a time to `IngestPipeline.ingestShard` (HTML, URL, line and
  * span stages), the output appended, `maintainIndexes` every few
  * shards. A round starts from empty indexes, so every round repeats
  * the same work.
  */
object IngestWorkload extends Workload {
  val nominalRoundS = 20
  val name = "ingest"

  private var corpusPath = ""
  private var benchPath = ""
  private var shardBounds: Seq[(Long, Long)] = Nil
  private var maintainEvery = 1
  private var lastIndexBytes = 0.0

  def generate(spark: SparkSession, seed: Long, size: Inputs.Size, dir: String): Seq[String] = {
    val r = Inputs.rng(seed, 41)
    val bench = Inputs.documents(seed, size.benchDocs, stream = 42)
    // a seeded share of crawl docs quotes a passage of an eval doc
    val base = Inputs.documents(seed, size.baseDocs).map { d =>
      if (r.nextInt(100) < 4) {
        val src = bench(r.nextInt(bench.size)).text.split("\\s+")
        val from = r.nextInt(math.max(1, src.length - 12))
        d.copy(text = d.text + "\n" + src.slice(from, from + 12).mkString(" "))
      } else d
    }
    // two key-offset copies of the base table, as the scale-up tool builds them
    val docs = graft.tools.ScaleUp.scaleTable(Inputs.documentsDf(spark, base), "documents", 2)
    val id = col("doc_id").cast("string")
    val h = xxhash64(col("doc_id"), lit(seed))
    val shell = pmod(h, lit(17L)) === 3
    val html = when(shell, concat(
        lit("<html><body><script>var n = 0; // " + ("pad " * 50)),
        lit("</script><p>tiny</p></body></html>")))
      .otherwise(concat(
        lit("<html><body><p>SHARED NAV BAR</p><p>"),
        regexp_replace(col("text"), "\n", "</p><p>"),
        lit(" more info</p></body></html>")))
    val url = when(pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(3L)) === 0, concat(
        lit("http://dup"), pmod(xxhash64(col("doc_id"), lit(seed + 2)), lit(11L)).cast("string"),
        lit(".com/x?gclid="), id))
      .otherwise(concat(lit("http://u"), id, lit(".site.com/p/"),
        pmod(col("doc_id"), lit(5L)).cast("string"), lit("?utm_source=z")))
    corpusPath = s"$dir/crawl"
    benchPath = s"$dir/eval"
    docs.select(col("doc_id"), html.as("html"), url.as("url"), col("source"))
      .orderBy("doc_id").write.mode("overwrite").parquet(corpusPath)
    Inputs.documentsDf(spark, bench).write.mode("overwrite").parquet(benchPath)

    val ids = spark.read.parquet(corpusPath).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val per = (ids.length + size.shards - 1) / size.shards
    shardBounds = ids.grouped(per).map(g => (g.head, g.last)).toSeq
    maintainEvery = size.maintainEvery
    Seq(corpusPath, benchPath)
  }

  private val families = Seq("digest" -> "digest", "minhash" -> "minhash",
    "span" -> "span", "line" -> "line", "url" -> "digest")

  def round(ctx: Ctx, r: Int): RoundResult = {
    val spark = ctx.spark
    val tr = ctx.trace
    val base = s"${ctx.work}/ingest/round-$r"
    val corpus = spark.read.parquet(corpusPath)
    val bench = spark.read.parquet(benchPath)
    val kept = mutable.Set[Long]()
    val ops = mutable.ArrayBuffer[Op]()
    var docsIn = 0L
    var docsKept = 0L
    shardBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val shard = corpus.where(col("doc_id").between(lo, hi))
      val outPath = s"$base/out/shard=$i"
      val t0 = System.nanoTime()
      val wallT0 = System.currentTimeMillis()
      tr.span("ops.shard_ms") { ctx.on("ops.IngestPipeline") {
        IngestPipeline.ingestShard(shard, bench,
            digestIndexPath = s"$base/digest", minhashIndexPath = s"$base/minhash",
            spanIndexPath = s"$base/span",
            threshold = 0.5, spanN = 8, decontamN = 3, decontamMinHits = 2,
            htmlCol = Some("html"), urlCol = Some("url"),
            urlIndexPath = Some(s"$base/url"), lineIndexPath = Some(s"$base/line"))
          .write.mode("append").parquet(outPath)
      } }
      if (tr.enabled) {
        val callMs = System.currentTimeMillis() - wallT0
        if (callMs > 0) tr.record("ops.job_overlap",
          ctx.listener.jobWallWithin(wallT0, System.currentTimeMillis()) / callMs)
      }
      if ((i + 1) % maintainEvery == 0) tr.span("ops.maintain_ms") {
        IngestPipeline.maintainIndexes(spark, families.map { case (d, f) => s"$base/$d" -> f })
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val (ok, hash, note, nIn, nOut) = ctx.check {
        val out = spark.read.parquet(outPath)
        val outIds = out.select("doc_id").collect().map(_.getLong(0))
        val inIds = shard.select("doc_id").collect().map(_.getLong(0)).toSet
        val subset = outIds.forall(inIds.contains)
        val fresh = outIds.distinct.length == outIds.length && !outIds.exists(kept.contains)
        kept ++= outIds
        (subset && fresh, Stats.frameHash(out.select("doc_id", "source", "clean_text", "n_tokens")),
          s"shard=$i in=${inIds.size} kept=${outIds.length} subset=$subset fresh=$fresh",
          inIds.size.toLong, outIds.length.toLong)
      }
      docsIn += nIn; docsKept += nOut
      ops += Op("shard", ms, ok, hash, note)
    }
    val indexBytes = families.map(f => Inputs.dirBytes(s"$base/${f._1}")).sum.toDouble
    val stats = families.flatMap(f => IndexStore.stats(spark, s"$base/${f._1}"))
    lastIndexBytes = indexBytes
    val counts = Map(
      "docs_in" -> docsIn.toDouble, "docs_kept" -> docsKept.toDouble,
      "index_bytes" -> indexBytes,
      "manifest_lines" -> stats.map(s => s.nDataLeaves + s.nAnchors + s.nTags + s.nTagMarks).sum.toDouble,
      "dirty_fraction" -> (if (stats.isEmpty) 0.0 else stats.map(_.dirtyFraction).sum / stats.size))
    // the next round starts from empty indexes
    if (r > 0) deleteTree(new java.io.File(s"${ctx.work}/ingest/round-${r - 1}"))
    RoundResult(ops.toSeq, counts)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def layerMetrics(ctx: Ctx, traced: Seq[RoundResult]): Map[String, Double] = {
    def mean(k: String) = if (traced.isEmpty) 0.0 else traced.map(_.counts.getOrElse(k, 0.0)).sum / traced.size
    Map(
      "ops.index_bytes_appended" -> mean("index_bytes"),
      "ops.manifest_lines" -> mean("manifest_lines"),
      "ops.dirty_fraction" -> mean("dirty_fraction"),
      "ops.docs_kept_ratio" -> (if (mean("docs_in") > 0) mean("docs_kept") / mean("docs_in") else 0.0))
  }

  def extraMetrics(rounds: Seq[RoundResult], wallS: Double): Map[String, (Double, String)] = {
    val docs = rounds.headOption.map(_.counts("docs_in")).getOrElse(0.0)
    val kept = rounds.headOption.map(_.counts("docs_kept")).getOrElse(0.0)
    Map("docs_per_s" -> (if (wallS > 0) docs / wallS else 0.0, "1/s"),
      "bytes_per_doc" -> (if (docs > 0) lastIndexBytes / docs else 0.0, "bytes"),
      "docs_kept_ratio" -> (if (docs > 0) kept / docs else 0.0, "ratio"),
      "index_bytes" -> (lastIndexBytes, "bytes"))
  }
}
