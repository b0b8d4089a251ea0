package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{codecs, SparkTestSession}
import graft.codecs.ShpBuilder

/** SURVEY §2.1 S10 — the reference's browser file adapters
  * (`/root/reference/src/ReadFile.js:1-35`: File → ArrayBuffer/text +
  * extension sniff) map to Spark's binaryFile/text sources +
  * `input_file_name()` + a regexp extension sniff (F13), feeding the codec
  * expressions. This spec drives that whole path from real files on disk.
  */
class FileSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("binaryFile scan -> extension dispatch -> codecs -> features") {
    val dir = Files.createTempDirectory("graft_files")
    // a kml, a gpx, a kmz, a shapefile pair, and an ignored .txt
    Files.writeString(dir.resolve("a.kml"),
      """<kml><Document><Placemark><name>A</name><Point><coordinates>1,2</coordinates></Point></Placemark></Document></kml>""")
    Files.writeString(dir.resolve("b.gpx"),
      """<gpx><wpt lat="3" lon="4"><name>B</name></wpt></gpx>""")
    Files.writeString(dir.resolve("ignored.txt"), "nope")
    val shp = ShpBuilder.shpFile(Seq(ShpBuilder.point(5.0, 6.0)), (5, 6, 5, 6))
    val dbf = ShpBuilder.dbf(Seq(("NAME", 'C', 4)), Seq(Seq("C")))
    Files.write(dir.resolve("c.shp"), shp)
    Files.write(dir.resolve("c.dbf"), dbf)

    val files = spark.read.format("binaryFile").load(dir.toString + "/*")
      .select(col("path"), col("content"),
        regexp_extract(col("path"), "\\.([^.]+)$", 1).as("ext")) // F13 fileExtName

    // xml-family: decode text + dispatch on extension
    val xmlDocs = files.filter(col("ext").isin("kml", "gpx"))
      .withColumn("text", col("content").cast("string"))
      .withColumn("geojson",
        when(col("ext") === "kml", codecs.kmlToGeojson(col("text")))
          .otherwise(codecs.gpxToGeojson(col("text"))))
    // shapefile: positional self-join of the .shp and .dbf siblings (J1 at
    // the file level: same basename)
    val base = regexp_extract(col("path"), "([^/]+)\\.[^.]+$", 1)
    val shps = files.filter(col("ext") === "shp")
      .select(base.as("base"), col("content").as("shp_bytes"))
    val dbfs = files.filter(col("ext") === "dbf")
      .select(base.as("base"), col("content").as("dbf_bytes"))
    val shpDocs = shps.join(dbfs, "base")
      .withColumn("geojson",
        codecs.shapefileToGeojson(col("shp_bytes"), col("dbf_bytes"), lit(null)))

    val all = xmlDocs.select("geojson").unionAll(shpDocs.select("geojson"))
      .withColumn("feature", explode(codecs.geojsonFeatures(col("geojson"))))
      .withColumn("gj", get_json_object(col("feature"), "$.geometry.coordinates"))
    val coords = all.select("gj").as[String].collect().toSet
    assert(coords == Set("[1,2]", "[4,3]", "[5,6]"))
  }

  test("kmz file via binaryFile source") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("graft_kmz")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("doc.kml"))
    z.write("""<kml><Document><Placemark><Point><coordinates>9,8</coordinates></Point></Placemark></Document></kml>""".getBytes)
    z.closeEntry(); z.close()
    Files.write(dir.resolve("x.kmz"), bos.toByteArray)
    val out = spark.read.format("binaryFile").load(dir.toString + "/*.kmz")
      .select(explode(codecs.kmzToGeojsons(col("content"))).as("geojson"))
      .select(get_json_object(col("geojson"), "$.features[0].geometry.coordinates").as("c"))
      .as[String].collect()
    assert(out.toSeq == Seq("[9,8]"))
  }
}

/** SURVEY §2.10 — Structured Streaming surface: the same tumbling-window
  * aggregation as batch q11, run as a stream (file source → window agg →
  * memory sink), plus a stateful dedup via flatMapGroupsWithState-free
  * dropDuplicates on watermark. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming tumbling window == batch window aggregation") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source wants a directory; testdata is single files
    val streamDir = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$dir/events.parquet"), streamDir.resolve("events.parquet"))
    // testdata timestamps are TIMESTAMP_NTZ; watermarks need TIMESTAMP
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("graft_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT window.start AS hour_start, event_type, n FROM graft_stream_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming hopping windows: TimeOps.hoppingAgg == batch (AvailableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = Files.createTempDirectory("graft_hop_stream")
    Files.copy(Paths.get(s"$dir/events.parquet"), streamDir.resolve("events.parquet"))
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    // hoppingAgg builds on native window(ts, len, slide) — the operator
    // Structured Streaming runs stateful, so batch/streaming must agree
    val agg = graft.operators.TimeOps.hoppingAgg(
      stream, "ts", "6 hours", "2 hours", Seq("event_type"), "value")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("graft_hop_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM graft_hop_out")
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.TimeOps.hoppingAgg(
        spark.read.parquet(s"$dir/events.parquet")
          .withColumn("ts", col("ts").cast("timestamp")),
        "ts", "6 hours", "2 hours", Seq("event_type"), "value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming KMV sketch (complete mode, multi-batch) == batch sketch") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // 3 micro-batch files: the sketch state (KMinDistinct buffers in the
    // state store) must accumulate across triggers exactly as one batch
    val streamDir = Files.createTempDirectory("graft_kmv_stream")
    docs.repartition(3).write.parquet(streamDir.resolve("d").toString)
    val schema = docs.schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/*")
    def toks(df: org.apache.spark.sql.DataFrame) = df.select(col("source"),
      explode(filter(split(lower(col("text")), " "), w => length(w) > 0)).as("w"))
    val q = graft.operators.Sketch.kmvDistinct(toks(stream), col("source"), col("w"), k = 64)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_kmv_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM graft_kmv_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Sketch.kmvDistinct(toks(docs), col("source"), col("w"), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("heavyHitters on a streaming source: loud batch-only error, foreachBatch works") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val streamDir = Files.createTempDirectory("graft_mg_stream")
    docs.repartition(3).write.parquet(streamDir.resolve("d").toString)
    val stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/*")
    def letters(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(filter(split(lower(col("text")), " "), w => length(w) > 0)).as("tok"))
      .select(substring(col("tok"), 1, 1).as("w"))
    // the two-pass operator needs a mid-query action → batch only, loudly
    val err = intercept[IllegalArgumentException] {
      graft.operators.Sketch.heavyHitters(letters(stream), col("w"), 12, 100000L)
    }
    assert(err.getMessage.contains("foreachBatch"))
    // the documented streaming recipe: run it per micro-batch snapshot
    var last: Set[(String, Long)] = Set.empty
    val q = letters(stream).writeStream
      .foreachBatch { (batchDf: org.apache.spark.sql.DataFrame, _: Long) =>
        last = graft.operators.Sketch.heavyHitters(batchDf, col("w"), 12, 100000L)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // per-batch result matches batch heavyHitters on SOME subset (the last
    // micro-batch) — and each subset's output is internally exact
    assert(last.nonEmpty)
  }

  test("streaming sessionization: emitted sessions == their batch counterparts") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    // two time-ordered micro-batch files: the second advances the
    // watermark past the first's sessions so they emit in append mode
    val cut = all.selectExpr("percentile_approx(ts, 0.5)").head.getTimestamp(0)
    val streamDir = Files.createTempDirectory("graft_sess_stream")
    all.filter(col("ts") <= cut).coalesce(1)
      .write.parquet(streamDir.resolve("a").toString)
    all.filter(col("ts") > cut).coalesce(1)
      .write.parquet(streamDir.resolve("b").toString)
    val schema = spark.read.parquet(streamDir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/*")
      .withWatermark("ts", "1 hour")
    val sess = graft.operators.TimeOps.sessionize(
      stream, Seq("user_id"), "ts", gap = "4 hours", value = "value")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("graft_sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM graft_sess_out")
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.TimeOps.sessionize(
        all, Seq("user_id"), "ts", gap = "4 hours", value = "value")
      .collect().map(_.toSeq).toSet
    // append mode only emits sessions the final watermark has closed —
    // every emitted session must be byte-identical to its batch
    // counterpart (same bounds, count, exact decimal sum), and the
    // early-half sessions must actually have emitted
    assert(streamed.subsetOf(batch),
      s"streamed sessions diverge from batch: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= batch.size / 4,
      s"only ${streamed.size}/${batch.size} sessions emitted")
  }

  test("streaming geofence: stream-static PIP join == batch (spatial core on a stream)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.SpatialOps
    // points stream in micro-batches; the polygon dictionary is the static
    // broadcast side — pipJoin's one PipJoin node (cell index probe + exact
    // contains) must behave identically under Structured Streaming
    // (geofencing)
    val polys = graft.EntryQueries.districtPolygons(spark)
    val pts = ImageTable.metaDf(spark, 0, 3000)
      .withColumn("lon", SpatialOps.phashLon(col("phash")))
      .withColumn("lat", SpatialOps.phashLat(col("phash")))
      .select("id", "lon", "lat")
    val dir = Files.createTempDirectory("graft_geofence")
    pts.repartition(3).write.parquet(dir.resolve("pts").toString)
    val schema = spark.read.parquet(dir.resolve("pts").toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.resolve("pts").toString)
    val joined = SpatialOps.pipJoin(stream, col("lon"), col("lat"), polys, "geom", res = 7)
      .select("id", "district")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("graft_geofence_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT id, district FROM graft_geofence_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = SpatialOps.pipJoin(
        spark.read.parquet(dir.resolve("pts").toString),
        col("lon"), col("lat"), polys, "geom", res = 7)
      .select("id", "district")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "no points landed in any district — fixture broken")
  }

  test("streaming dedup-on-ingest: watermark-bounded exact dedup drops replayed content") {
    import org.apache.spark.sql.streaming.Trigger
    // two micro-batch files; file b replays half of file a's texts (same
    // content, later event time) plus fresh ones
    val mk = (id: Long, text: String, h: Int) =>
      (id, text, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"))
    val a = (0L until 40L).map(i => mk(i, s"doc content ${i % 20}", 1)) // 20 dups inside a
    val b = (100L until 140L).map(i => mk(i, s"doc content ${i % 40}", 2)) // 20 replays + 20 fresh
    val dir = Files.createTempDirectory("graft_dedup_stream")
    import spark.implicits._
    a.toDF("id", "text", "ts").coalesce(1).write.parquet(dir.resolve("a").toString)
    b.toDF("id", "text", "ts").coalesce(1).write.parquet(dir.resolve("b").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/*")
    val deduped = graft.operators.Dedup.exactStreaming(
      stream, col("text"), "ts", "10 hours")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("graft_dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.sql("SELECT text FROM graft_dedup_out")
      .collect().map(_.getString(0))
    // 40 distinct texts total ("doc content 0".."doc content 39"); every
    // duplicate (in-batch and replayed-across-batch within the watermark
    // horizon) dropped
    assert(out.length == out.distinct.length, "emitted duplicate content")
    assert(out.distinct.sorted.toSeq == (0 until 40).map(i => s"doc content $i").sorted)
  }

  test("streaming near-dup: pigeonhole state emits in-batch and cross-batch pairs once") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.Kernels
    import spark.implicits._
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val s0 = Kernels.mix64(1); val s1 = Kernels.mix64(2)
    val a = Seq(
      (0L, s0, ts(1)), (1L, s1, ts(1)),
      (2L, Kernels.mix64(10), ts(1)), (3L, Kernels.mix64(11), ts(1)),
      (100L, s0 ^ (1L << 7), ts(1))) // in-batch pair with id 0, hamming 1
    val b = Seq(
      (200L, s1 ^ ((1L << 3) | (1L << 40)), ts(2)), // cross-batch pair with id 1
      (201L, Kernels.mix64(50), ts(2)))
    val dir = Files.createTempDirectory("graft_neardup_stream")
    a.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("a").toString)
    b.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("b").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/*")
    val pairs = graft.streaming.StreamingDedup.hammingPairsStream(
      stream, col("id"), col("sig"), col("ts"), watermark = "10 hours")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("graft_neardup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT id_a, id_b, hamming FROM graft_neardup_out")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 100L, 1L), (1L, 200L, 2L)), s"got $got")
    // same corpus through the batch engine: identical pair set
    val batch = graft.operators.Dedup.hammingPairs64(
        (a ++ b).toDF("id", "sig", "ts"), col("id"), col("sig"))
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(got == batch)
    graft.operators.CacheTracker.releaseAll()
  }

  test("streaming near-dup: partner below the watermark but inside the horizon still pairs") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.Kernels
    import spark.implicits._
    val s0 = Kernels.mix64(11)
    // batch 1: the partner at 01:00 plus an unrelated 15:00 event that
    // drags the watermark up to 05:00 (10h delay) after the batch
    val a = Seq(
      (0L, s0, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")),
      (9L, Kernels.mix64(99), java.sql.Timestamp.valueOf("2024-01-01 15:00:00")))
    // batch 2: 06:00 is above the 05:00 watermark (admitted) and 5h from
    // the partner — inside the 10h horizon, so the pair MUST be found even
    // though the partner's ts is below the watermark
    val b = Seq((100L, s0 ^ (1L << 5), java.sql.Timestamp.valueOf("2024-01-01 06:00:00")))
    val dir = Files.createTempDirectory("graft_neardup_lag")
    a.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("a").toString)
    b.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("b").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/*")
    val pairs = graft.streaming.StreamingDedup.hammingPairsStream(
      stream, col("id"), col("sig"), col("ts"), watermark = "10 hours")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("graft_neardup_lag_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT id_a, id_b, hamming FROM graft_neardup_lag_out")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 100L, 1L)), s"got $got")
  }

  test("streaming near-dup: watermark evicts out-of-horizon partners (bounded state)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.Kernels
    import spark.implicits._
    val s0 = Kernels.mix64(7)
    val a = Seq((0L, s0, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
    // partner arrives 3 days later — far outside the 30-minute horizon
    val b = Seq((100L, s0 ^ 1L, java.sql.Timestamp.valueOf("2024-01-04 01:00:00")))
    val dir = Files.createTempDirectory("graft_neardup_evict")
    a.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("a").toString)
    b.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("b").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/*")
    val pairs = graft.streaming.StreamingDedup.hammingPairsStream(
      stream, col("id"), col("sig"), col("ts"), watermark = "30 minutes")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("graft_neardup_evict_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.sql("SELECT * FROM graft_neardup_evict_out").isEmpty,
      "evicted partner must not pair")
  }

  test("streaming near-dup: signature flood is bounded by the FIFO cap") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.Kernels
    import spark.implicits._
    // 3000 rows with the SAME signature — the boilerplate-flood case; with
    // cap 50, each arrival pairs with at most 50 retained partners
    val s = Kernels.mix64(123)
    val rows = (0L until 3000L).map(i =>
      (i, s, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
    val dir = Files.createTempDirectory("graft_neardup_flood")
    rows.toDF("id", "sig", "ts").coalesce(1).write.parquet(dir.resolve("a").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/*")
    val dropped = spark.sparkContext.longAccumulator("neardup_dropped")
    val pairs = graft.streaming.StreamingDedup.hammingPairsStream(
      stream, col("id"), col("sig"), col("ts"), watermark = "1 hour",
      maxPerBucket = 50, droppedEntries = Some(dropped))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("graft_neardup_flood_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val n = spark.sql("SELECT count(*) FROM graft_neardup_flood_out").head().getLong(0)
    // capped: ≤ rows × cap, far below the 4.5M uncapped all-pairs volume
    assert(n > 0 && n <= 3000L * 50, s"flood emitted $n pairs")
    // and the recall loss is observable, not silent
    assert(dropped.value > 0, "cap evictions must surface in the accumulator")
  }

  test("streaming image ingest: decode+phash (mapPartitions) runs stateless on a stream") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val r = ImageTable.rowFor(i.toLong)
      (r.image_id, r.bytes)
    }
    val dir = Files.createTempDirectory("graft_img_stream")
    rows.toDF("image_id", "bytes").coalesce(1).write.parquet(dir.resolve("a").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString + "/*")
    val q = graft.operators.ImageOps.phashes(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_img_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT image_id, phash FROM graft_img_stream_out")
      .as[(String, Long)].collect().toSet
    val batch = graft.operators.ImageOps.phashes(rows.toDF("image_id", "bytes"))
      .as[(String, Long)].collect().toSet
    assert(streamed == batch && streamed.size == 40)
  }

  test("streaming ingest -> foreachBatch -> snapshot table == batch pipeline") {
    // the SURVEY §2.10 design claim end to end: a file-source stream runs
    // through the same tile-assign kernel and commits each micro-batch to
    // the snapshot table; the result table equals the one-shot batch run
    // (same fingerprints), and a REPLAY of the stream is a no-op (resume
    // semantics carry over to streaming ingest)
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val images = ImageTable.metaDf(spark, 0, 4000)
      .withColumn("lon", graft.operators.SpatialOps.phashLon(col("phash")))
      .withColumn("lat", graft.operators.SpatialOps.phashLat(col("phash")))
      .withColumn("tile", graft.functions.st.cellId(col("lon"), col("lat"), 7))
      .select("tile", "image_id", "phash")
    val inDir = Files.createTempDirectory("graft_stream_in")
    // two source files → at least one micro-batch each under maxFilesPerTrigger
    images.filter(col("phash") % 2 === 0).coalesce(1).write.parquet(inDir.resolve("a").toString)
    images.filter(col("phash") % 2 =!= 0).coalesce(1).write.parquet(inDir.resolve("b").toString)
    val schema = spark.read.parquet(inDir.resolve("a").toString).schema

    def runStream(table: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString + "/*")
      val q = SnapshotTable.streamingCommit(stream, table, "tile",
          Seq("image_id"), numPartitions = 4, zOrderRes = 7)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    val streamTable = Files.createTempDirectory("graft_stream_tbl").toString
    runStream(streamTable)
    val batchTable = Files.createTempDirectory("graft_batch_tbl").toString
    SnapshotTable.commitBatch(images, batchTable, "all", "tile",
      Seq("image_id"), numPartitions = 4, zOrderRes = 7)
    // content equality irrespective of batch split: whole-table fingerprint
    assert(SnapshotTable.tableFingerprint(streamTable) ==
      SnapshotTable.tableFingerprint(batchTable))
    assert(SnapshotTable.read(spark, streamTable).count() == 4000)
    // replaying the same stream re-offers the same batch ids → all skipped
    val vBefore = SnapshotTable.currentVersion(streamTable)
    runStream(streamTable)
    assert(SnapshotTable.currentVersion(streamTable) == vBefore,
      "replay must be an exact-resume no-op")
  }

  test("decontaminate-on-ingest: stream-static broadcast anti join == batch decontamination") {
    // the streaming half of benchmark decontamination: a document stream
    // anti-joined per micro-batch against the static (broadcast) eval set —
    // Dedup.decontaminate's plan is stream-compatible as-is
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    def word(k: Long): String = "w" + (graft.core.Kernels.mix64(k) & 0xFFFL).toString
    val docs = (0L until 120L).map { i =>
      (i, (0 until 25).map(j => word(i * 131 + j)).mkString(" "))
    }
    val inDir = Files.createTempDirectory("graft_decon_stream")
    docs.filter(_._1 % 2 == 0).toDF("doc_id", "text").coalesce(1)
      .write.parquet(inDir.resolve("a").toString)
    docs.filter(_._1 % 2 == 1).toDF("doc_id", "text").coalesce(1)
      .write.parquet(inDir.resolve("b").toString)
    val evalSet = docs.filter(_._1 < 10).map(_._2).toDF("text")
    val schema = spark.read.parquet(inDir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString + "/*")
    val q = graft.operators.Dedup.decontaminate(stream, col("text"), evalSet, col("text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_decon_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT doc_id FROM graft_decon_out")
      .as[Long].collect().toSet
    val batch = graft.operators.Dedup.decontaminate(
        docs.toDF("doc_id", "text"), col("text"), evalSet, col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert((0L until 10L).forall(i => !streamed.contains(i)) && streamed.size == 110)
  }
}

/** Batched multimodal operators (mapPartitions plumbing) + stateful
  * streaming (flatMapGroupsWithState custom state). */
class MultimodalStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("batched image feature extraction over partitions") {
    import graft.operators.ImageOps
    val imgs = ImageTable.synthesize(spark, 200, parts = 7).toDF()
    val feats = ImageOps.extractFeatures(imgs).collect()
    assert(feats.length == 200)
    feats.foreach { f =>
      assert(f.mean_r >= 0 && f.mean_r <= 255)
      assert(f.brightness > 0)
      val ref = ImageTable.metaFor(f.image_id.drop(3).toLong)
      assert(f.w == ref.w && f.h == ref.h && f.fmt == ref.fmt)
    }
    val thumbs = ImageOps.thumbnails(imgs, 4, 4).collect()
    assert(thumbs.forall(r => ImageTable.decode(r.getAs[Array[Byte]](1)).getWidth == 4))
  }

  test("stateful streaming: per-user running count via flatMapGroupsWithState") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger, GroupState}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_state")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.parquet(dir.resolve("in").toString)
    val schema = spark.read.parquet(dir.resolve("in").toString).schema
    val stream = spark.readStream.schema(schema).parquet(dir.resolve("in").toString)
      .selectExpr("user_id", "event_id")
      .as[(Long, Long)]
    val counted = stream.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val total = prev + events.length
          state.update(total)
          Iterator((user, total))
      }
    val q = counted.toDF("user_id", "running_total").writeStream
      .outputMode("append").format("memory").queryName("graft_state_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT user_id, max(running_total) FROM graft_state_out GROUP BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }
}
