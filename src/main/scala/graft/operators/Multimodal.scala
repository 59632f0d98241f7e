package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (mandated extension surface): image/audio/
  * video payloads modeled as opaque `binary` columns plus typed metadata,
  * with decode / feature-extraction as a typed per-partition batch stage.
  *
  * The general media decode is STUBBED (no codec libraries in this
  * environment) with a deterministic fake — [[decodeStub]] — but the
  * Spark-side plumbing is real: schema (binary payload + struct-ish
  * metadata), partition-parallel batch iteration (`mapPartitions`, the
  * Scala analogue of `mapInPandas` batches: the decoder amortizes any
  * per-batch model/codec setup across a partition), and frame-sampling
  * as a generator (`explode`). At 100 TB payload bytes stay columnar in
  * parquet; only projected batches ever materialize, and the decode
  * stage carries no shuffle.
  *
  * One codec path is REAL end-to-end: [[pngDecode]] encodes and decodes
  * actual PNG bytes through the pure-JDK [[graft.functions.Png]]
  * (chunk framing, CRC validation, zlib, all five scanline filters),
  * oracle-checked against a generator the oracle computes directly —
  * proof the decode-stage architecture carries a genuine file format,
  * not only the stub.
  */
object Multimodal extends graft.GateModule {

  case class Asset(asset_id: Long, kind: String, payload: Array[Byte])
  case class DecodedMeta(asset_id: Long, kind: String, byte_len: Long,
      width: Long, height: Long, n_frames: Long)

  /** Synthesize an asset table from `documents` (payload = utf8 bytes of
    * the text; kind cycles image/audio/video by doc_id). */
  def assets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[Asset]
  }

  /** Deterministic fake decoder — stands in for an image/audio codec.
    * Derives "media dimensions" purely from payload size so the oracle
    * can reproduce them. A real deployment swaps only this function. */
  def decodeStub(a: Asset): DecodedMeta = {
    val n = a.payload.length.toLong
    DecodedMeta(a.asset_id, a.kind,
      byte_len = n,
      width = n % 640 + 1,
      height = (n * 7) % 480 + 1,
      n_frames = if (a.kind == "video") n % 5 + 2 else 1L)
  }

  /** Decode stage: per-partition batch iteration (setup once per
    * partition, then stream the batch through the decoder). */
  def decodeAll(assets: Dataset[Asset]): Dataset[DecodedMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      // per-partition decoder init would go here (model/codec handle)
      batch.map(decodeStub)
    }
  }

  /** Gate query: decoded metadata for every asset. */
  def metaQuery(spark: SparkSession, dir: String): DataFrame =
    decodeAll(assets(spark, dir)).toDF()

  /** Frame sampling: one row per sampled frame of each video asset —
    * generator-shaped (posexplode of a per-asset frame index array). */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    metaQuery(spark, dir)
      .filter(col("kind") === "video")
      .select(col("asset_id"), col("width"), col("height"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))

  /** Resize-planning output: original dims, thumbnail dims fit into
    * [[thumbBox]]² (aspect preserved, never upscaled), and the RGB
    * byte estimate the downstream batch writer sizes buffers by. */
  case class ResizedMeta(asset_id: Long, kind: String, width: Long,
      height: Long, out_w: Long, out_h: Long, out_bytes: Long)

  val thumbBox = 256L

  /** Thumbnail/resize stage — the standard preprocessing step between
    * decode and featurize in any image pipeline. The pixel work is the
    * stub (no codecs here); the REAL contract is the plumbing: dims
    * arrive from [[decodeAll]], the fit computation is pure integer
    * arithmetic (floor scaling, no upscale, 1px floor — so the oracle
    * reproduces it bit-for-bit), and execution is the same
    * per-partition typed batch stage (`mapPartitions`) a real resizer
    * amortizes its buffer/codec setup across. No shuffle anywhere:
    * decode → resize is one fused narrow stage at any corpus size. */
  def resizePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeAll(assets(spark, dir)).mapPartitions { batch =>
      // per-partition resize buffer init would go here
      batch.map { m =>
        val longSide = math.max(m.width, m.height)
        val (ow, oh) =
          if (longSide <= thumbBox) (m.width, m.height)
          else (math.max(1L, m.width * thumbBox / longSide),
            math.max(1L, m.height * thumbBox / longSide))
        ResizedMeta(m.asset_id, m.kind, m.width, m.height, ow, oh, ow * oh * 3L)
      }
    }.toDF()
  }

  // --- feature extraction + similarity composition ----------------------

  /** Deterministic fake featurizer: 16-bucket byte histogram, L1
    * normalized — stands in for an image/audio embedding model. Real
    * deployments swap this function; the pipeline shape (binary column
    * in, fixed-width vector out, per-partition batching) is the real
    * contract. */
  def featurizeStub(payload: Array[Byte]): Array[Double] = {
    val h = new Array[Double](16)
    var i = 0
    while (i < payload.length) { h((payload(i) & 0xff) / 16) += 1.0; i += 1 }
    val n = math.max(payload.length, 1).toDouble
    var j = 0
    while (j < 16) { h(j) /= n; j += 1 }
    h
  }

  case class AssetFeature(asset_id: Long, kind: String, feature: Array[Double])

  /** Decode->featurize stage: same mapPartitions batch shape as
    * decodeAll (model handle initialized once per partition). */
  def featurize(assets: Dataset[Asset]): Dataset[AssetFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      // per-partition featurizer/model init would go here
      batch.map(a => AssetFeature(a.asset_id, a.kind, featurizeStub(a.payload)))
    }
  }

  /** End-to-end multimodal search: payload -> feature vector -> top-3
    * most-similar assets of the same kind for the first 5 assets of
    * each kind. Composes the multimodal plumbing with the ANN kernel
    * (Similarity.pairSims). Approximate feature space -> rows-only. */
  def featureKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = featurize(assets(spark, dir))
      .map { f =>
        var s = 0.0; var i = 0
        while (i < f.feature.length) { s += f.feature(i) * f.feature(i); i += 1 }
        (f.asset_id, f.kind, f.feature, math.sqrt(s))
      }.toDF("id", "kind", "v", "n")
    val vecs = feats.select(col("id"), col("v"), col("n"))
      .as[Similarity.Vec]
    val probes = feats.filter(col("id") < 15)
      .select(col("id"), col("v"), col("n")).as[Similarity.Vec].collect()
    val kinds = feats.select(col("id").as("a_id"), col("kind"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("sim").desc, col("a").asc)
    Similarity.pairSims(vecs, probes, (c, q) => c != q, minSim = -2.0)
      .join(kinds, col("a") === col("a_id"))
      .join(kinds.select(col("a_id").as("b_id"), col("kind").as("qkind")),
        col("b") === col("b_id"))
      .filter(col("kind") === col("qkind"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("b").as("query_asset"), col("a").as("similar_asset"),
        col("kind"), col("rn"), round(col("sim"), 4).as("sim_r4"))
  }

  /** REAL average hash (aHash, the pHash family's box-filter member):
    * the payload bytes are the flattened gray tile; box-downscale to 64
    * cells (cell j = bytes i with ⌊64i/n⌋ = j — exactly the area
    * averaging an 8×8 resize performs), then bit j is set iff cell j's
    * average is at or above the global mean. The comparison is the
    * cross-multiplied integer form `s_j·n ≥ S·n_j` (no float division,
    * bit-portable across engines); an empty cell (n < 64 bytes) stays
    * 0. This IS the published aHash algorithm — only the codec decode
    * in front of it is synthetic here; a real deployment feeds decoded
    * pixels into the same function. 64 bits beat the old 16-bit
    * histogram sketch on template-heavy corpora (collision rate falls
    * ~2^-48 vs 2^-12), which is what keeps candidate fanout
    * output-bounded. */
  def aHash64(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val j = (64L * i / n).toInt
      sums(j) += payload(i) & 0xff
      cnts(j) += 1
      i += 1
    }
    var total = 0L
    var j = 0
    while (j < 64) { total += sums(j); j += 1 }
    var h = 0L
    j = 0
    while (j < 64) {
      if (cnts(j) > 0 && sums(j) * n >= total * cnts(j)) h |= 1L << j
      j += 1
    }
    h
  }

  /** The 64-bit hash travels as two NON-NEGATIVE 32-bit halves: bit 63
    * would make a single BIGINT negative, and both Spark's integer DIV
    * banding and DuckDB's `<<`/xor reject or mis-handle the sign
    * (DuckDB errors outright on `1::BIGINT << 63`). Halves keep every
    * band/xor in well-defined non-negative arithmetic in BOTH engines. */
  case class AssetHash(asset_id: Long, kind: String, hi: Long, lo: Long)

  /** Re-encode jitter used by [[phashPairs]]'s probe side: +3 on every
    * 50th byte — the sparse value noise a lossy re-encode leaves on a
    * gray tile, WITHOUT changing its length (length changes shift
    * every aHash cell boundary — measured ~12 flipped bits for one
    * appended byte — which is exactly the brittleness a real pHash
    * pipeline also has: it re-decodes to a FIXED tile before
    * hashing). Measured on this corpus: self-distance ≤2 at small
    * SFs, 498/500 probes within the gate threshold at sf0.1, zero
    * cross-asset false positives. */
  def reencodeJitter(p: Array[Byte]): Array[Byte] = {
    val v = p.clone()
    var i = 0
    while (i < v.length) { v(i) = (v(i) + 3).toByte; i += 50 }
    v
  }

  /** Near-duplicate media retrieval — the canonical perceptual-hash
    * task: given a RE-ENCODED copy of an asset (probe = every 10th
    * asset through [[reencodeJitter]]), find its original in the full
    * collection. Per-asset REAL average hash (map-side, [[aHash64]]),
    * LSH banding of the 64 bits into 4 disjoint 16-bit bands (any
    * pair within Hamming distance 3 leaves ≥1 band untouched —
    * pigeonhole, so banding loses nothing at the gate threshold), an
    * EQUI-join on (kind, band, value), and an exact `bit_count(xor)`
    * verify summed over the two halves. Never an all-pairs
    * comparison; candidate fanout is governed by band-bucket
    * occupancy exactly as in `dedup_simhash_pairs` (the bucket-cap
    * guard there applies verbatim if media collections cluster). */
  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def hash(ds: Dataset[Asset]) = ds.mapPartitions(_.map { a =>
      val ph = aHash64(a.payload)
      AssetHash(a.asset_id, a.kind, ph >>> 32, ph & 0xFFFFFFFFL)
    }).toDF()
    val collection = hash(assets(spark, dir))
    val probes = hash(assets(spark, dir)
      .filter(col("asset_id") % 10 === 0)
      .map(a => Asset(a.asset_id, a.kind, reencodeJitter(a.payload))))
    // bands 0-1 slice lo, 2-3 slice hi; halves are non-negative, so
    // the DIV/% extraction is exact
    def bands(df: DataFrame) = df
      .select(col("asset_id"), col("kind"), col("hi"), col("lo"),
        explode(array((0 until 4).map { i =>
          val half = if (i < 2) "lo" else "hi"
          val sh = 1L << (16 * (i % 2))
          struct(lit(i).as("bi"),
            expr(s"($half DIV ${sh}L) % 65536").as("bv"))
        }: _*)).as("b"))
      .select(col("asset_id"), col("kind"), col("hi"), col("lo"),
        col("b.bi"), col("b.bv"))
    bands(probes).as("x")
      .join(bands(collection).as("y"),
        col("x.kind") === col("y.kind") && col("x.bi") === col("y.bi")
          && col("x.bv") === col("y.bv"))
      .select(col("x.asset_id").as("probe_id"),
        col("y.asset_id").as("match_id"),
        col("x.kind").as("kind"),
        col("x.hi").as("a_hi"), col("x.lo").as("a_lo"),
        col("y.hi").as("b_hi"), col("y.lo").as("b_lo"))
      .distinct()
      .withColumn("dist",
        (bit_count(col("a_hi").bitwiseXOR(col("b_hi")))
          + bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).cast("long"))
      .filter(col("dist") <= 3)
  }

  /** Audio window width / stride (ms) and the fake bytes→duration
    * rate for [[audioWindows]]. */
  val audioWinMs = 1000L
  val audioStrideMs = 600L
  val audioMsPerByte = 40L

  /** Overlapping window segmentation of the audio assets — the
    * fixed-width/stride chunking an ASR/audio-embedding stage consumes
    * ([[graft.operators.TrainPrep]] chunking, ported to the time
    * axis): every window of [[audioWinMs]] ms starting each
    * [[audioStrideMs]] ms with start < duration, the final window
    * clamped to the asset end. Duration derives deterministically
    * from payload size ([[decodeStub]]'s discipline — a real decoder
    * swaps in). Map-side `sequence`/`explode` generation: window
    * count is `(duration−1) DIV stride + 1` per asset, no shuffle at
    * all — output IO is the whole cost at any corpus size. */
  def audioWindows(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir).toDF()
      .filter(col("kind") === "audio")
      .select(col("asset_id"),
        (length(col("payload")) * audioMsPerByte).cast("long")
          .as("duration_ms"))
      .withColumn("window_idx", explode(expr(
        s"sequence(0, (duration_ms - 1) DIV $audioStrideMs)")))
      .select(col("asset_id"), col("duration_ms"), col("window_idx"),
        (col("window_idx") * audioStrideMs).as("start_ms"),
        least(col("window_idx") * audioStrideMs + audioWinMs,
          col("duration_ms")).as("end_ms"))

  /** 3-stage hash (the house LCG+xorshift composition, same constants
    * as Aqp/Sketches/Privacy) — the deterministic pixel generator for
    * [[pngDecode]], reproducible in plain SQL. */
  private def h3(key: Long): Long = {
    val M = 2147483648L; val A = 1103515245L; val C = 12345L
    val h1 = (key % M * A + C) % M
    val h2 = (h1 * A + C) % M
    ((h2 ^ (h2 >> 15)) * A + C) % M
  }

  /** REAL-codec gate: per asset, generate deterministic grayscale
    * pixels, ENCODE them as an actual PNG ([[graft.functions.Png]] —
    * chunk framing, CRC32, zlib, per-row filters cycling through all
    * five types), DECODE the bytes back, and publish statistics of the
    * DECODED pixels. The oracle recomputes the same statistics straight
    * from the pixel generator — it never sees a PNG — so the gate
    * passes only if the engine round-trips the real format bit-exactly
    * (the position-weighted checksum catches any filter-reconstruction
    * error a plain sum would miss). Plan shape: one scan, the codec
    * runs inside `mapPartitions` (payload-local, no shuffle), one
    * output row per asset. */
  def pngDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 120)
      .as[Long]
      .mapPartitions { it =>
        it.map { a =>
          val w = (a % 24 + 8).toInt
          val h = ((a * 3) % 24 + 8).toInt
          val px = Array.tabulate(w * h)(i =>
            (h3(a * 65536L + i) % 256).toByte)
          val png = graft.functions.Png.encode(w, h, px,
            r => ((r + a) % 5).toInt)
          val (dw, dh, dec) = graft.functions.Png.decode(png)
          var sum = 0L; var wsum = 0L; var mn = 255L; var mx = 0L
          var i = 0
          while (i < dec.length) {
            val v = dec(i) & 0xFF
            sum += v; wsum += (i + 1L) * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          (a, dw.toLong, dh.toLong, sum, wsum, mn, mx)
        }
      }
      .toDF("asset_id", "width", "height", "pixel_sum", "checksum",
        "px_min", "px_max")
  }

  /** Truecolor twin of [[pngDecode]]: per asset, generate
    * deterministic interleaved RGB bytes (3 per pixel), encode as a
    * REAL color-type-2 PNG, decode, and publish per-CHANNEL sums plus
    * the position-weighted checksum. RGB exercises the filter paths
    * grayscale cannot: PNG filters subtract the byte `bpp` positions
    * back, so with bpp=3 the Sub/Average/Paeth reconstructions read a
    * different neighbor — and the per-channel sums catch any channel
    * misalignment a total sum would hide. Oracle recomputes from the
    * generator (never sees a PNG), same as the grayscale gate. */
  def pngDecodeRgb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 120)
      .as[Long]
      .mapPartitions { it =>
        it.map { a =>
          val w = (a % 20 + 6).toInt
          val h = ((a * 5) % 20 + 6).toInt
          val px = Array.tabulate(3 * w * h)(i =>
            (h3(a * 65536L + i) % 256).toByte)
          val png = graft.functions.Png.encodeRgb(w, h, px,
            r => ((r + a) % 5).toInt)
          val (dw, dh, dec) = graft.functions.Png.decodeRgb(png)
          var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
          var i = 0
          while (i < dec.length) {
            val v = dec(i) & 0xFF
            (i % 3: @annotation.switch) match {
              case 0 => sr += v
              case 1 => sg += v
              case 2 => sb += v
            }
            wsum += (i + 1L) * v
            i += 1
          }
          (a, dw.toLong, dh.toLong, sr, sg, sb, wsum)
        }
      }
      .toDF("asset_id", "width", "height", "sum_r", "sum_g", "sum_b",
        "checksum")
  }

  /** REAL pixel resize through the real codec (the metadata-only
    * [[resizePlan]] computes target boxes; this one moves pixels):
    * per asset, generate the SAME deterministic grayscale image as
    * [[pngDecode]], round-trip it through an actual PNG, then
    * nearest-neighbor downsample to the half box (ow = (w+1)/2,
    * oh = (h+1)/2) with pure integer source mapping
    * (ix = ox*w DIV ow, iy = oy*h DIV oh) and publish statistics of
    * the RESIZED pixels. The oracle regenerates the selected source
    * pixels straight from the generator at the mapped coordinates — it
    * never sees a PNG and never materializes the full image — so the
    * gate proves codec round-trip AND the exact resize kernel.
    * Same plan shape as the decode gates: one scan, codec + kernel in
    * `mapPartitions` (payload-local, no shuffle), one row per asset. */
  def pngResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 120)
      .as[Long]
      .mapPartitions { it =>
        it.map { a =>
          val w = (a % 24 + 8).toInt
          val h = ((a * 3) % 24 + 8).toInt
          val px = Array.tabulate(w * h)(i =>
            (h3(a * 65536L + i) % 256).toByte)
          val png = graft.functions.Png.encode(w, h, px,
            r => ((r + a) % 5).toInt)
          val (dw, dh, dec) = graft.functions.Png.decode(png)
          val ow = (dw + 1) / 2; val oh = (dh + 1) / 2
          var sum = 0L; var wsum = 0L; var mn = 255L; var mx = 0L
          var oy = 0
          while (oy < oh) {
            val iy = oy * dh / oh
            var ox = 0
            while (ox < ow) {
              val ix = ox * dw / ow
              val v = dec(iy * dw + ix) & 0xFF
              val j = oy * ow + ox
              sum += v; wsum += (j + 1L) * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              ox += 1
            }
            oy += 1
          }
          (a, ow.toLong, oh.toLong, sum, wsum, mn, mx)
        }
      }
      .toDF("asset_id", "out_w", "out_h", "pixel_sum", "checksum",
        "px_min", "px_max")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_png_decode" -> pngDecode _,
    "multimodal_png_rgb" -> pngDecodeRgb _,
    "multimodal_png_resize" -> pngResize _,
    "multimodal_audio_windows" -> audioWindows _,
    "multimodal_meta" -> metaQuery _,
    "multimodal_frames" -> frameSample _,
    "multimodal_resize" -> resizePlan _,
    "multimodal_phash_pairs" -> phashPairs _,
    "multimodal_feature_knn" -> featureKnn _)

  val oracles: Map[String, String] = Map(
    "multimodal_png_decode" ->
      """WITH ids AS (SELECT doc_id AS a FROM documents WHERE doc_id < 120),
        |ex AS (SELECT a,
        |    unnest(generate_series(CAST(0 AS BIGINT),
        |      (a % 24 + 8) * ((a * 3) % 24 + 8) - 1)) AS i
        |  FROM ids),
        |px AS (SELECT a, i,
        |    (xor(
        |       (((a * 65536 + i) % 2147483648 * 1103515245 + 12345)
        |         % 2147483648 * 1103515245 + 12345) % 2147483648,
        |       ((((a * 65536 + i) % 2147483648 * 1103515245 + 12345)
        |         % 2147483648 * 1103515245 + 12345) % 2147483648) >> 15
        |     ) * 1103515245 + 12345) % 2147483648 % 256 AS p
        |  FROM ex)
        |SELECT a AS asset_id,
        |  CAST(a % 24 + 8 AS BIGINT) AS width,
        |  CAST((a * 3) % 24 + 8 AS BIGINT) AS height,
        |  CAST(sum(p) AS BIGINT) AS pixel_sum,
        |  CAST(sum((i + 1) * p) AS BIGINT) AS checksum,
        |  CAST(min(p) AS BIGINT) AS px_min,
        |  CAST(max(p) AS BIGINT) AS px_max
        |FROM px GROUP BY a""".stripMargin,
    "multimodal_png_rgb" ->
      """WITH ids AS (SELECT doc_id AS a FROM documents WHERE doc_id < 120),
        |ex AS (SELECT a,
        |    unnest(generate_series(CAST(0 AS BIGINT),
        |      3 * (a % 20 + 6) * ((a * 5) % 20 + 6) - 1)) AS i
        |  FROM ids),
        |px AS (SELECT a, i,
        |    (xor(
        |       (((a * 65536 + i) % 2147483648 * 1103515245 + 12345)
        |         % 2147483648 * 1103515245 + 12345) % 2147483648,
        |       ((((a * 65536 + i) % 2147483648 * 1103515245 + 12345)
        |         % 2147483648 * 1103515245 + 12345) % 2147483648) >> 15
        |     ) * 1103515245 + 12345) % 2147483648 % 256 AS p
        |  FROM ex)
        |SELECT a AS asset_id,
        |  CAST(a % 20 + 6 AS BIGINT) AS width,
        |  CAST((a * 5) % 20 + 6 AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN p ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN p ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN p ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(sum((i + 1) * p) AS BIGINT) AS checksum
        |FROM px GROUP BY a""".stripMargin,
    "multimodal_png_resize" ->
      """WITH ids AS (SELECT doc_id AS a, doc_id % 24 + 8 AS w,
        |    (doc_id * 3) % 24 + 8 AS h,
        |    (doc_id % 24 + 8 + 1) // 2 AS ow,
        |    ((doc_id * 3) % 24 + 8 + 1) // 2 AS oh
        |  FROM documents WHERE doc_id < 120),
        |ex AS (SELECT a, w, h, ow, oh,
        |    unnest(generate_series(CAST(0 AS BIGINT), ow * oh - 1)) AS j
        |  FROM ids),
        |src AS (SELECT a, ow, oh, j,
        |    ((j // ow) * h // oh) * w + ((j % ow) * w // ow) AS i
        |  FROM ex),
        |px AS (SELECT a, ow, oh, j,
        |    (xor(
        |       (((a * 65536 + i) % 2147483648 * 1103515245 + 12345)
        |         % 2147483648 * 1103515245 + 12345) % 2147483648,
        |       ((((a * 65536 + i) % 2147483648 * 1103515245 + 12345)
        |         % 2147483648 * 1103515245 + 12345) % 2147483648) >> 15
        |     ) * 1103515245 + 12345) % 2147483648 % 256 AS p
        |  FROM src)
        |SELECT a AS asset_id, CAST(ow AS BIGINT) AS out_w,
        |  CAST(oh AS BIGINT) AS out_h,
        |  CAST(sum(p) AS BIGINT) AS pixel_sum,
        |  CAST(sum((j + 1) * p) AS BIGINT) AS checksum,
        |  CAST(min(p) AS BIGINT) AS px_min,
        |  CAST(max(p) AS BIGINT) AS px_max
        |FROM px GROUP BY a, ow, oh""".stripMargin,
    "multimodal_audio_windows" ->
      s"""WITH a AS (SELECT doc_id AS asset_id,
         |    CAST(octet_length(encode(text)) * $audioMsPerByte AS BIGINT)
         |      AS duration_ms
         |  FROM documents WHERE doc_id % 3 = 1)
         |SELECT asset_id, duration_ms, CAST(w.i AS BIGINT) AS window_idx,
         |  CAST(w.i * $audioStrideMs AS BIGINT) AS start_ms,
         |  least(w.i * $audioStrideMs + $audioWinMs, duration_ms)
         |    AS end_ms
         |FROM a, LATERAL (SELECT
         |  unnest(range((duration_ms - 1) // $audioStrideMs + 1)) AS i) w""".stripMargin,
    // ASCII corpus => payload bytes == code points (see
    // multimodal_feature_knn); the oracle rebuilds the identical
    // 64-cell box-downscale aHash (as the same hi/lo halves — DuckDB
    // errors on 1::BIGINT << 63) for both the originals and the
    // jittered probes, then brute-forces all same-kind pairs, which
    // the banded join provably equals at dist <= 3.
    "multimodal_phash_pairs" -> {
      // one 32-bit half of the aHash over char-value list `vals` whose
      // sum is `tot`; off = 1 for bits 0-31 (lo), 33 for 32-63 (hi)
      def half(vals: String, tot: String, off: Int): String =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(32), j -> CASE WHEN
           |      i1[j+$off] - i0[j+$off] > 0 AND
           |      coalesce(list_sum($vals[i0[j+$off]+1 : i1[j+$off]]), 0) * n
           |        >= $tot * (i1[j+$off] - i0[j+$off])
           |      THEN CAST(1 AS BIGINT) << j ELSE 0 END)),
           |    (p, q) -> p | q)""".stripMargin
      s"""WITH base AS (SELECT doc_id AS id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
         |      AS kind,
         |    length(text) AS n,
         |    list_transform(range(length(text)),
         |      i -> ascii(text[i+1])) AS chars,
         |    list_transform(range(length(text)),
         |      i -> ascii(text[i+1])
         |        + CASE WHEN i % 50 = 0 THEN 3 ELSE 0 END) AS pchars
         |  FROM documents),
         |d AS (SELECT *, list_sum(chars) AS tot, list_sum(pchars) AS ptot,
         |    list_transform(range(64), j -> (j*n + 63)//64) AS i0,
         |    list_transform(range(64), j -> ((j+1)*n + 63)//64) AS i1
         |  FROM base),
         |f AS (SELECT id, kind,
         |  ${half("chars", "tot", 33)} AS hi,
         |  ${half("chars", "tot", 1)} AS lo,
         |  ${half("pchars", "ptot", 33)} AS phi,
         |  ${half("pchars", "ptot", 1)} AS plo
         |  FROM d)
         |SELECT p.id AS probe_id, b.id AS match_id, p.kind,
         |  p.phi AS a_hi, p.plo AS a_lo, b.hi AS b_hi, b.lo AS b_lo,
         |  CAST(bit_count(xor(p.phi, b.hi))
         |    + bit_count(xor(p.plo, b.lo)) AS BIGINT) AS dist
         |FROM f p JOIN f b ON p.kind = b.kind AND p.id % 10 = 0
         |WHERE bit_count(xor(p.phi, b.hi))
         |  + bit_count(xor(p.plo, b.lo)) <= 3""".stripMargin
    },
    "multimodal_resize" ->
      s"""WITH m AS (SELECT doc_id AS asset_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
         |    CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT)
         |      AS height
         |  FROM documents),
         |r AS (SELECT *, greatest(width, height) AS ls FROM m)
         |SELECT asset_id, kind, width, height,
         |  CASE WHEN ls <= $thumbBox THEN width
         |       ELSE greatest(1, width * $thumbBox // ls) END AS out_w,
         |  CASE WHEN ls <= $thumbBox THEN height
         |       ELSE greatest(1, height * $thumbBox // ls) END AS out_h,
         |  (CASE WHEN ls <= $thumbBox THEN width
         |        ELSE greatest(1, width * $thumbBox // ls) END)
         |  * (CASE WHEN ls <= $thumbBox THEN height
         |          ELSE greatest(1, height * $thumbBox // ls) END) * 3
         |    AS out_bytes
         |FROM r""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        |  CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2
        |       THEN octet_length(encode(text)) % 5 + 2 ELSE 1 END AS BIGINT)
        |    AS n_frames
        |FROM documents""".stripMargin,
    // The featurizer is DuckDB-expressible because the corpus is pure
    // ASCII (verified across SFs): the payload's byte histogram equals
    // the text's char histogram. Same sequential-fold cosine as the
    // pairSims kernel -> bit-identical sims -> hash-checked gate.
    "multimodal_feature_knn" -> {
      def fold16(x: String, y: String) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(16), i -> $x[i+1] * $y[i+1])), (p,q) -> p+q)"
      def cos16(a: String, b: String) =
        s"(${fold16(a, b)} / (sqrt(${fold16(a, a)}) * sqrt(${fold16(b, b)})))"
      s"""WITH f AS (SELECT doc_id AS id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         |    list_transform(range(16), b ->
         |      CAST(len(list_filter(string_split_regex(text, ''),
         |        c -> ascii(c) // 16 = b)) AS DOUBLE)
         |      / CAST(greatest(length(text), 1) AS DOUBLE)) AS v
         |  FROM documents),
         |cand AS (SELECT q.id AS query_asset, a.id AS similar_asset, a.kind,
         |    ${cos16("a.v", "q.v")} AS sim
         |  FROM f a JOIN f q ON a.kind = q.kind AND q.id < 15 AND a.id <> q.id)
         |SELECT query_asset, similar_asset, kind, rn,
         |  round(sim, 4) AS sim_r4 FROM (
         |  SELECT query_asset, similar_asset, kind, sim,
         |    CAST(row_number() OVER (PARTITION BY query_asset
         |      ORDER BY sim DESC, similar_asset ASC) AS BIGINT) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin
    },
    "multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS asset_id,
        |    CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        |    CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS height,
        |    CAST(octet_length(encode(text)) % 5 + 2 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT asset_id, width, height, CAST(f.i AS BIGINT) AS frame_idx
        |FROM m, LATERAL (SELECT unnest(range(m.n_frames)) AS i) f""".stripMargin)
}
