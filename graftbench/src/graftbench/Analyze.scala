package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Classifier, Components, Dedup, Similarity, TextAnalysis}

/** Read-only batch analytics over `documents` and `embeddings`: a fixed
  * sequence of operators, each result written to a noop sink (small
  * reports are collected). Every round runs the same sequence.
  */
object Analyze extends Workload {
  val nominalRoundS = 20
  val name = "analyze"

  private var labelSource = "src0"
  private var targetSource = "src1"
  private var queryIds: Seq[Long] = Nil
  private var nDocs = 0

  def generate(spark: SparkSession, seed: Long, size: Inputs.Size, dir: String): Seq[String] = {
    val r = Inputs.rng(seed, 51)
    labelSource = s"src${r.nextInt(10)}"
    targetSource = s"src${(labelSource.drop(3).toInt + 1 + r.nextInt(9)) % 10}"
    queryIds = Seq.fill(size.queries)(r.nextInt(size.vectors).toLong).distinct.sorted
    nDocs = size.analyzeDocs
    // registered as the `documents` / `embeddings` views at set-up
    Inputs.documentsDf(spark, Inputs.documents(seed, size.analyzeDocs))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Inputs.embeddingsDf(spark, seed, size.vectors)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq(s"$dir/documents.parquet", s"$dir/embeddings.parquet")
  }

  private val LrDims = 128
  private val LrSteps = 3
  private val LrRate = 5.0

  def round(ctx: Ctx, r: Int): RoundResult = {
    val spark = ctx.spark
    val tr = ctx.trace
    val docs = spark.table("documents")
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
    val ops = mutable.ArrayBuffer[Op]()

    /** Times `make` plus its sink. The sink is an order-independent
      * content hash of the result: like Bench's noop sink it evaluates
      * every output column, and it is the op's output check.
      */
    def op(call: String, module: String)(make: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val (df, hash) = tr.span(s"ops.${call}_ms") {
        ctx.on(module) { val d = make; (d, Stats.frameHash(d)) }
      }
      ops += Op(call, (System.nanoTime() - t0) / 1e6, ok = true, hash)
      df
    }

    op("remove_dup_lines", "ops.Dedup")(Dedup.removeDuplicateLines(docs, "doc_id", "text"))
    op("remove_dup_spans", "ops.Dedup")(Dedup.removeDuplicateSpans(docs, "doc_id", "text", 5))
    op("dedup_clusters", "ops.Components")(Components.connectedComponents(
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5), "id_a", "id_b"))

    var db: DataFrame = null
    var model: (Array[Double], Double) = null
    op("classifier_train", "ops.Classifier") {
      db = Classifier.featurize(docs, "doc_id", "text", col("source") === labelSource, LrDims)
      model = Classifier.trainWeights(db, LrDims, LrSteps, LrRate)
      Classifier.weightsDF(spark, db, model._1, model._2)
    }
    val scored = op("classifier_score", "ops.Classifier")(Classifier.score(db, model._1, model._2))
    op("classifier_calibration", "ops.Classifier")(Classifier.evalReport(scored, buckets = 10))

    var cents: DataFrame = null
    op("ann_ivf", "ops.Similarity") {
      cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", 16)
        .select(col("cent_id").as("vec_id"), col("centroid").as("embedding"))
      Similarity.ivfTopK(emb, queries, cents, "vec_id", "embedding", k = 10, nprobe = 4)
    }
    op("ann_recall", "ops.Similarity")(Similarity.annRecallReport(emb, queries, cents, "vec_id", "embedding",
      k = 10, nprobe = 2))

    op("perplexity_kn", "ops.TextAnalysis")(TextAnalysis.knBigramPerplexity(docs, "doc_id", "text"))
    op("dsir_weights", "ops.TextAnalysis")(TextAnalysis.dsirLogWeights(
      docs.where(col("source") =!= targetSource), docs.where(col("source") === targetSource),
      "doc_id", "text", buckets = 1024))
    RoundResult(ops.toSeq)
  }

  def layerMetrics(ctx: Ctx, traced: Seq[RoundResult]): Map[String, Double] = Map.empty

  def extraMetrics(rounds: Seq[RoundResult], wallS: Double): Map[String, (Double, String)] =
    Map("docs_per_s" -> (if (wallS > 0) nDocs / wallS else 0.0, "1/s"))
}
