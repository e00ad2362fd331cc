package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.geo.{LineString, Point, Polygon, Pt, Wkb}

/** Seeded input generators. Every input is a pure function of the
  * seed and the size, so one seed always yields the same rows; the
  * engine only ever sees the written parquet files.
  */
object Inputs {

  /** Row sizes of one benchmark scale. */
  final case class Size(
      name: String,
      tilesPerSide: Int, places: Int, buildings: Int, segments: Int,
      baseDocs: Int, shards: Int, maintainEvery: Int, benchDocs: Int,
      analyzeDocs: Int, vectors: Int, queries: Int,
      lineitems: Int)

  val Full = Size("full", 4, 4000, 4000, 2000,
    250, 2, 2, 200, 800, 1200, 20, 60000)
  val Tiny = Size("tiny", 2, 400, 400, 200,
    120, 2, 2, 30, 200, 200, 4, 3000)

  def size(name: String): Size = name match {
    case "full" => Full
    case "tiny" => Tiny
    case other  => throw new IllegalArgumentException(s"unknown size '$other'")
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  // ── map data: Overture-shaped GeoParquet ─────────────────────────

  /** The generated area, in degrees. */
  val X0 = -118.50; val X1 = -118.10; val Y0 = 33.90; val Y1 = 34.20

  /** One generated feature's bbox and the file (tile) holding it. */
  final case class Feature(id: String, xmin: Double, ymin: Double,
                           xmax: Double, ymax: Double, tile: Int) {
    def intersects(b: graft.ingest.Ingest.BBox): Boolean =
      xmax >= b.xmin && xmin <= b.xmax && ymax >= b.ymin && ymin <= b.ymax
  }

  val Categories = Seq("cafe", "bakery", "pharmacy", "library", "museum",
    "school", "garage", "market", "cinema", "clinic", "hotel", "park")
  val NameWords = Seq("golden", "harbor", "maple", "sunset", "union", "pacific",
    "cedar", "vista", "mission", "summit", "orchard", "river")

  private val bboxType = StructType(Seq("xmin", "xmax", "ymin", "ymax")
    .map(StructField(_, DoubleType)))
  private val namesType = StructType(Seq(StructField("primary", StringType)))

  private def bboxRow(f: Feature) = Row(f.xmin, f.xmax, f.ymin, f.ymax)

  /** Writes `places_place`, `buildings_building` and
    * `transportation_segment` under `dir`, one parquet file per
    * spatial tile, and returns the generated features per table.
    */
  def writeMap(spark: SparkSession, dir: String, seed: Long, sz: Size): Map[String, Seq[Feature]] = {
    val g = sz.tilesPerSide
    val tw = (X1 - X0) / g; val th = (Y1 - Y0) / g
    def tileOrigin(t: Int) = (X0 + (t % g) * tw, Y0 + (t / g) * th)

    def gen(table: String, n: Int, stream: Long)(
        one: (SplittableRandom, Int, Double, Double) => (Feature, Row)): (Seq[Feature], Seq[Seq[Row]]) = {
      val perTile = (0 until g * g).map { t =>
        val r = rng(seed, stream * 1000 + t)
        val (ox, oy) = tileOrigin(t)
        // uniform inside the tile: a viewport's row count depends on its
        // area, not on where the seed puts it
        (0 until n / (g * g)).map { i =>
          val x = ox + tw * (0.02 + 0.96 * r.nextDouble())
          val y = oy + th * (0.02 + 0.96 * r.nextDouble())
          one(r, t * 100000 + i, x, y) match { case (f, row) => (f.copy(tile = t), row) }
        }
      }
      (perTile.flatMap(_.map(_._1)), perTile.map(_.map(_._2)))
    }

    def name(r: SplittableRandom, cat: String, i: Int) =
      s"${NameWords(r.nextInt(NameWords.size))} $cat ${i % 1000}"

    val places = gen("places_place", sz.places, 1) { (r, i, x, y) =>
      val cat = Categories(r.nextInt(Categories.size))
      val nm = name(r, cat, i)
      val f = Feature(f"pl$i%07d", x, y, x, y, 0)
      (f, Row(f.id, Row(nm), Row(cat), (r.nextInt(100) / 100.0),
        Seq(s"https://example.com/$i"), Seq(s"+1-555-${i % 10000}"),
        Row(Row(if (r.nextInt(5) == 0) "BrandX" else s"Brand${i % 97}")),
        Seq(Row(s"${i % 900 + 1} Main St")), bboxRow(f), Wkb.write(Point(Pt(x, y)))))
    }
    val buildings = gen("buildings_building", sz.buildings, 2) { (r, i, x, y) =>
      val h = 0.0001 + r.nextDouble() * 0.0003
      val nm = if (r.nextInt(2) == 0) null else s"${NameWords(r.nextInt(NameWords.size))} hall ${i % 1000}"
      val f = Feature(f"bl$i%07d", x - h, y - h, x + h, y + h, 0)
      val ring = IndexedSeq(Pt(x - h, y - h), Pt(x + h, y - h), Pt(x + h, y + h),
        Pt(x - h, y + h), Pt(x - h, y - h))
      (f, Row(f.id, Row(nm), if (r.nextInt(2) == 0) "residential" else "commercial",
        "building", 3.0 + r.nextInt(40), 1 + r.nextInt(12),
        Seq("red", "white", "grey")(r.nextInt(3)), Seq("flat", "gabled")(r.nextInt(2)),
        bboxRow(f), Wkb.write(Polygon(IndexedSeq(ring)))))
    }
    val segments = gen("transportation_segment", sz.segments, 3) { (r, i, x, y) =>
      val pts = (0 until 3).map(k => Pt(x + k * 0.0008 * (r.nextDouble() - 0.3), y + k * 0.0006 * (r.nextDouble() - 0.3)))
      val nm = s"${NameWords(r.nextInt(NameWords.size))} ${Seq("street", "avenue", "road")(r.nextInt(3))}"
      val f = Feature(f"sg$i%07d", pts.map(_.x).min, pts.map(_.y).min,
        pts.map(_.x).max, pts.map(_.y).max, 0)
      (f, Row(f.id, Row(nm), "road", Seq("primary", "secondary", "residential")(r.nextInt(3)),
        Seq("sidewalk", "crosswalk", null)(r.nextInt(3)),
        Seq(Row(Seq("paved", "unpaved")(r.nextInt(2)))),
        Seq(Row(Row(Seq(25, 35, 45, 65)(r.nextInt(4))))),
        bboxRow(f), Wkb.write(LineString(pts))))
    }

    val schemas = Map(
      "places_place" -> StructType(Seq(
        StructField("id", StringType), StructField("names", namesType),
        StructField("categories", namesType), StructField("confidence", DoubleType),
        StructField("websites", ArrayType(StringType)), StructField("phones", ArrayType(StringType)),
        StructField("brand", StructType(Seq(StructField("names", namesType)))),
        StructField("addresses", ArrayType(StructType(Seq(StructField("freeform", StringType))))),
        StructField("bbox", bboxType), StructField("geometry", BinaryType))),
      "buildings_building" -> StructType(Seq(
        StructField("id", StringType), StructField("names", namesType),
        StructField("subtype", StringType), StructField("class", StringType),
        StructField("height", DoubleType), StructField("num_floors", IntegerType),
        StructField("facade_color", StringType), StructField("roof_shape", StringType),
        StructField("bbox", bboxType), StructField("geometry", BinaryType))),
      "transportation_segment" -> StructType(Seq(
        StructField("id", StringType), StructField("names", namesType),
        StructField("subtype", StringType), StructField("class", StringType),
        StructField("subclass", StringType),
        StructField("road_surface", ArrayType(StructType(Seq(StructField("value", StringType))))),
        StructField("speed_limits", ArrayType(StructType(Seq(StructField("max_speed",
          StructType(Seq(StructField("value", IntegerType)))))))),
        StructField("bbox", bboxType), StructField("geometry", BinaryType))))

    Seq("places_place" -> places, "buildings_building" -> buildings,
      "transportation_segment" -> segments).map { case (table, (features, tiles)) =>
      // one partition, and so one file, per tile
      val rdd = spark.sparkContext.parallelize(tiles, tiles.size).flatMap(identity)
      spark.createDataFrame(rdd, schemas(table)).write.mode("overwrite").parquet(s"$dir/$table")
      table -> features
    }.toMap
  }

  // ── text corpus: `documents`-shaped ──────────────────────────────

  /** A fixed 300-word vocabulary of pronounceable tokens. */
  val Vocab: IndexedSeq[String] = {
    val cs = "bdfgklmnprstvz"; val vs = "aeiou"
    val r = new SplittableRandom(7L)
    (0 until 300).map { _ =>
      (0 until 2 + r.nextInt(2)).map(_ => s"${cs(r.nextInt(cs.length))}${vs(r.nextInt(vs.length))}").mkString
    }.distinct.take(300)
  }

  /** Boilerplate lines shared by many documents (line-dedup work). */
  val Boilerplate = Seq(
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the site owner",
    "share this page with your friends",
    "cookies help us deliver our services",
    "read more stories in the archive section")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(r.nextInt(Vocab.size)))

  /** `n` documents with seeded duplicate structure: exact copies,
    * near copies (a few words changed), shared boilerplate lines and
    * repeated passages.
    */
  def documents(seed: Long, n: Int, stream: Long = 11): IndexedSeq[Doc] = {
    val r = rng(seed, stream)
    val langs = Seq("en", "en", "en", "es", "de", "fr", "zh")
    val out = scala.collection.mutable.ArrayBuffer[Doc]()
    (0 until n).foreach { i =>
      val roll = r.nextInt(100)
      val text =
        if (i > 10 && roll < 5) out(r.nextInt(out.size)).text // exact copy
        else if (i > 10 && roll < 13) { // near copy
          val src = out(r.nextInt(out.size)).text.split(" ")
          src.map(w => if (w.contains("\n") || r.nextInt(12) != 0) w else Vocab(r.nextInt(Vocab.size))).mkString(" ")
        } else {
          val lines = (0 until 1 + r.nextInt(3)).map(_ => words(r, 10 + r.nextInt(20)).mkString(" "))
          val withBoiler =
            if (r.nextInt(4) == 0) lines :+ Boilerplate(r.nextInt(Boilerplate.size)) else lines
          withBoiler.mkString("\n")
        }
      out += Doc(i.toLong, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(10)}")
    }
    out.toIndexedSeq
  }

  def documentsDf(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `embeddings`-shaped vectors: `dims` floats around 10 seeded
    * centres, labelled by centre.
    */
  def embeddingsDf(spark: SparkSession, seed: Long, n: Int, dims: Int = 64): DataFrame = {
    import spark.implicits._
    val r = rng(seed, 21)
    val centres = Seq.fill(10)(Array.fill(dims)(r.nextDouble() * 2 - 1))
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = centres(label).map(c => c + (r.nextDouble() - 0.5) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  // ── anchor tables: TPC-H-shaped, seed-independent ──────────────

  /** `customer`, `orders` and `lineitem` with the column names and
    * types of the TPC-H-shaped test tables. They do not depend on the
    * workload seed, so anchor timings compare across runs.
    */
  def anchorTables(spark: SparkSession, cache: String, dir: String, lineitems: Int): Unit = {
    val names = Seq("customer", "orders", "lineitem")
    val cached = new java.io.File(cache)
    if (!cached.isDirectory) {
      // built once per checkout: the tables do not depend on the seed
      val tmp = new java.io.File(s"$cache.${ProcessHandle.current().pid()}")
      writeAnchorTables(spark, tmp.getPath, lineitems)
      if (!tmp.renameTo(cached) && !cached.isDirectory) sys.error(s"cannot publish $cache")
    }
    names.foreach { n =>
      val out = new java.io.File(s"$dir/$n.parquet"); out.mkdirs()
      Option(new java.io.File(s"$cache/$n.parquet").listFiles()).toSeq.flatten.foreach { f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(out, f.getName).toPath)
      }
    }
  }

  private def writeAnchorTables(spark: SparkSession, dir: String, lineitems: Int): Unit = {
    val nOrders = lineitems / 4
    val nCust = math.max(10, nOrders / 10)
    def u(c: org.apache.spark.sql.Column, salt: Int) = pmod(xxhash64(c, lit(salt)), lit(1000000L)) / 1000000.0
    spark.range(nCust).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
        (pmod(col("id"), lit(25L))).cast("int").as("c_nationkey"),
        round(u(col("id"), 1) * 10000 - 1000, 2).as("c_acctbal"),
        element_at(array(Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE").map(lit): _*),
          (pmod(xxhash64(col("id"), lit(2)), lit(5L)) + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(nOrders).select(col("id").as("o_orderkey"),
        pmod(xxhash64(col("id"), lit(3)), lit(nCust.toLong)).as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")), (pmod(col("id"), lit(3L)) + 1).cast("int")).as("o_orderstatus"),
        round(u(col("id"), 4) * 300000, 2).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + pmod(xxhash64(col("id"), lit(5)), lit(220000000L))).as("o_orderdate"),
        concat(lit("1-"), pmod(col("id"), lit(5L)).cast("string")).as("o_orderpriority"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(lineitems).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(6)), lit(20000L)).as("l_partkey"),
        pmod(xxhash64(col("id"), lit(7)), lit(1000L)).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (floor(u(col("id"), 8) * 50) + 1).cast("double").as("l_quantity"),
        round(u(col("id"), 9) * 100000 + 900, 2).as("l_extendedprice"),
        round(floor(u(col("id"), 10) * 11) / 100, 2).as("l_discount"),
        round(floor(u(col("id"), 11) * 9) / 100, 2).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (pmod(xxhash64(col("id"), lit(12)), lit(3L)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")), (pmod(xxhash64(col("id"), lit(13)), lit(2L)) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + pmod(xxhash64(col("id"), lit(14)), lit(220000000L))).as("l_shipdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** Content hash of the rows of every parquet dataset under `paths`:
    * row count plus the sum of exact per-row `xxhash64` values. The
    * files' bytes are not compared: the parquet writer lists a column
    * chunk's encodings in hash-set order, which differs between JVMs.
    */
  def contentHash(spark: SparkSession, paths: Seq[String]): String =
    Stats.hashOf(paths.sorted.map { p =>
      val df = spark.read.parquet(p)
      val h = pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(2147483647L))
      val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
      s"${new java.io.File(p).getName}=${r.getLong(0)}:${r.getLong(1)}"
    })

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }
}
