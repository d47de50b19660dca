package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Pin.{materialized, warmed}

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, processed without ever materializing them on the
  * driver.
  *
  * The *decode* step is a REAL codec since round 7: [[ImageCodec]] runs
  * the JDK's pure-Java PNG reader/writer (`javax.imageio` — no native
  * libjpeg/ffmpeg needed), so q72/q73 push real compressed image bytes
  * through a real decoder and read pixels off the decoded `Raster`.
  * The driver corpus has no binary column, so each document's image is
  * GENERATED deterministically from `documents.text` (dimensions from
  * the first two bytes, pixels tiled from the UTF-8 bytes), which keeps
  * every decoded metric — dimensions, channel count, pixel means,
  * resampled checksums — independently derivable by the DuckDB oracle
  * from the text alone. Formats the JDK lacks (video containers, audio)
  * would still need a native codec behind the same `mapPartitions`
  * boundary.
  *
  * Scale: all queries are narrow per-row transforms over the scan (plus
  * the final sort); codec work is partition-parallel and per-row
  * bounded (images are at most 64×64); frames explode ~n_bytes/32 rows
  * per doc but stay partition-local until the sort.
  */
object MultimodalPack extends QueryPack {

  /** Media row: id + opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Decoded-image record: dimensions/bands straight off the decoder's
    * `BufferedImage`, mean over the first `meanPixels` decoded pixels
    * (raster order) so the oracle can recompute it from the text. */
  case class DecodedMeta(doc_id: Long, width: Int, height: Int,
                         channels: Int, mean_byte: Double)

  /** Real PNG codec on the JDK's `javax.imageio` (pure Java, present in
    * every JRE — works headless). Encode builds a deterministic gray
    * RGB image from an opaque payload:
    *   w = 1 + b0 mod 64,  h = 1 + b1 mod 64  (b1 = 0 if absent),
    *   pixel(i) = payload(i mod len) replicated to R=G=B,
    * so every decoded observable is a pure function of the payload that
    * a SQL oracle can recompute. Decode is the genuine article: parse
    * the PNG byte stream, read samples off the raster.
    */
  object ImageCodec {
    import java.awt.image.BufferedImage

    def encodePng(payload: Array[Byte]): Array[Byte] = {
      val b0 = payload(0) & 0xff
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      val w = 1 + b0 % 64
      val h = 1 + b1 % 64
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      val raster = img.getRaster
      var i = 0
      while (i < w * h) {
        val g = payload(i % payload.length) & 0xff
        val x = i % w; val y = i / w
        raster.setSample(x, y, 0, g)
        raster.setSample(x, y, 1, g)
        raster.setSample(x, y, 2, g)
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** (width, height, bands, gray pixels row-major from band 0). */
    def decode(png: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val w = img.getWidth; val h = img.getHeight
      val r = img.getRaster
      val gray = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { gray(y * w + x) = r.getSample(x, y, 0).toByte; x += 1 }
        y += 1
      }
      (w, h, r.getNumBands, gray)
    }
  }

  /** Pixels contributing to q72's mean: bounded so the oracle's
    * generate_series stays tiny. Spark reads them off the DECODED
    * raster; the oracle reads the same bytes straight from the text. */
  val meanPixels = 16

  /** One decoded raster row: dims/bands off the decoder plus the full
    * gray plane and the source payload length (empty payloads keep a
    * zero row so every consumer can reproduce its own empty-input
    * semantics without re-joining `documents`). */
  case class RasterRow(doc_id: Long, w: Int, h: Int, channels: Int,
                       len: Int, gray: Array[Byte])

  /** Once-per-corpus DECODED-RASTER ARTIFACT (the r10 VERDICT cleanup):
    * the PNG encode→`javax.imageio` decode round-trip runs ONCE per
    * corpus and materializes `(doc_id, w, h, channels, len, gray)`;
    * every image query (q72/q73/q262/q295/q378) is a narrow map over
    * the stored rasters — exactly how a production vision pipeline
    * stores decode output once and runs N feature passes over it,
    * instead of paying the codec N times. Rasters are ≤64×64 (4 KiB),
    * so the artifact is smaller than most parquet row groups; at 100 TB
    * this is the standard decode-once/feature-many layout with the
    * artifact partitioned alongside the corpus. Same build-once
    * discipline as the shingle/signature artifacts
    * ([[graft.core.Artifacts]]).
    */
  private[operators] def grayRaster(s: SparkSession, d: String): Dataset[RasterRow] = {
    import s.implicits._
    val path = graft.core.Artifacts.materialize(
      s"gray_raster_v1_${graft.core.Artifacts.corpusKey(d, "documents.parquet")}") { tmp =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"),
                lit("image/png").as("media_type"))
        .as[MediaRow]
        .mapPartitions { rows =>
          rows.map { r =>
            if (r.payload.isEmpty) RasterRow(r.doc_id, 0, 0, 0, 0, Array.emptyByteArray)
            else {
              val (w, h, c, gray) = ImageCodec.decode(ImageCodec.encodePng(r.payload))
              RasterRow(r.doc_id, w, h, c, r.payload.length, gray)
            }
          }
        }
        // repartition keeps the codec work at full width; only the
        // (small) write collapses to 8 files
        .repartition(8).write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path).as[RasterRow]
  }

  /** The decoded-metadata path consumed by q72: a narrow map over the
    * stored raster artifact (the codec ran once in [[grayRaster]]). */
  def decodeAll(s: SparkSession, d: String): Dataset[DecodedMeta] = {
    import s.implicits._
    grayRaster(s, d)
      .mapPartitions { rows =>
        rows.map { r =>
          if (r.len == 0) DecodedMeta(r.doc_id, 0, 0, 0, 0.0)
          else {
            val k = math.min(math.min(r.w * r.h, r.len), meanPixels)
            var sum = 0L; var i = 0
            while (i < k) { sum += (r.gray(i) & 0xff); i += 1 }
            DecodedMeta(r.doc_id, r.w, r.h, r.channels, sum.toDouble / k)
          }
        }
      }
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- binary column + typed metadata via native expressions ----
    "q70_multimodal_meta" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).cast("bigint").as("n_bytes"),
          md5(col("payload")).as("checksum"),
          lower(hex(expr("substr(payload, 1, 4)"))).as("header_hex"),
          expr("(length(payload) + 31) div 32").cast("bigint").as("n_frames"))
        .orderBy("doc_id")
    },

    // ---- frame sampling: every 4th 32-byte frame, hashed ----
    "q71_frame_sample" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("n_frames", expr("(length(payload) + 31) div 32"))
        .select(col("doc_id"), col("payload"),
                explode(expr("filter(sequence(0, cast(n_frames - 1 as int)), i -> i % 4 = 0)")).as("frame_no"))
        .select(col("doc_id"), col("frame_no").cast("bigint").as("frame_no"),
                md5(expr("substr(payload, frame_no * 32 + 1, 32)")).as("frame_md5"))
        .orderBy("doc_id", "frame_no")
    },

    // ---- REAL image decode: text-derived gray image → PNG encode →
    // javax.imageio decode → metadata + pixel mean read off the decoded
    // raster. Every output is a pure function of the text, so DuckDB
    // verifies a genuine codec round-trip without having a codec. ----
    "q72_decode_image" -> { (s, d) =>
      decodeAll(s, d).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
                col("mean_byte"))
        .orderBy("doc_id")
    },

    // ---- perceptual-hash near-dup on the BINARY modality: a 64-bit
    // pHash per payload (simhash votes over its 32-char frames — the
    // same portable vote/band machinery as q42, with frames as the
    // tokens; a real deployment swaps the frame slicer for a codec's
    // block/DCT features, the banded join is unchanged), then the
    // emit-once 5-band self-join on int64 band keys and a Hamming<=4
    // verify. 5 bands > threshold 4 ⇒ every qualifying pair is a
    // candidate by pigeonhole (q42's guarantee, BandingGuaranteeSpec).
    // Candidates only ever come from band equi-joins. ----
    "q74_phash_neardup" -> { (s, d) =>
      // frame count and slicing both use CHARACTER length: counting bytes
      // while slicing chars would mint empty trailing "frames" on
      // multibyte docs (identical on the ASCII corpus either way)
      val sims = warmed(Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          expr("(length(text) + 31) div 32").as("n_frames"))
        .select(col("doc_id"),
          explode(expr("sequence(0, cast(n_frames - 1 as int))")).as("i"), col("text"))
        .select(col("doc_id"), expr("substr(text, cast(i * 32 + 1 as int), 32)").as("w"))
        .selectExpr(Seq("doc_id") ++ DedupPack.nibbleExprs("instr"): _*)
        .groupBy("doc_id")
        .agg(expr(DedupPack.voteExprs("div").head),
          DedupPack.voteExprs("div").tail.map(expr): _*)
        .selectExpr(Seq("doc_id", s"${DedupPack.simhashExpr} AS phash") ++
          DedupPack.bandValExprs: _*))
      val bandCols = (0 until DedupPack.simhashBands).map(k => col(s"v$k"))
      val bands = sims
        .select(Seq(col("doc_id"), col("phash")) ++ bandCols :+
          posexplode(array(bandCols: _*)): _*)
        .toDF(Seq("doc_id", "phash") ++
          (0 until DedupPack.simhashBands).map(k => s"v$k") ++
          Seq("band_id", "band_val"): _*)
        .withColumn("bk", graft.functions.TextFunctions.hex64(md5(concat_ws(":",
          col("band_id").cast("string"), col("band_val").cast("string")))))
      // band_val alongside bk — free (both sides carry it) and keeps the
      // emit-once exactness independent of 60-bit key-collision odds
      // (mirrors q42, DedupPack)
      val result = bands.as("a").join(bands.as("b"),
          col("a.bk") === col("b.bk") &&
          col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id") && DedupPack.emitOnceCond)
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
                col("a.phash").as("phash_i"), col("b.phash").as("phash_j"))
        .withColumn("hamming", expr("bit_count(phash_i ^ phash_j)"))
        .filter(col("hamming") <= 4)
      materialized(result, sims).orderBy("doc_i", "doc_j")
    },

    // ---- AUDIO-modality feature extraction over raw PCM: RMS energy
    // and zero-crossing rate — the two features every audio curation
    // pipeline computes first (silence/noise gating, speech-vs-music
    // heuristics). Raw PCM needs NO codec, so unlike compressed video/
    // audio this lane runs fully real in the sandbox: the payload's
    // bytes are interpreted as centered 8-bit samples (byte − 80, the
    // printable-ASCII midpoint, so the synthetic corpus produces sign
    // changes), energy is the exact int64 sum of squares, and a
    // crossing is a strict sign flip between adjacent samples. All
    // computed with codegen higher-order functions over the sample
    // array — one narrow map stage, no shuffle before the sort. ----
    "q263_audio_features" -> { (s, d) =>
      val samples = expr(
        "transform(sequence(1, length(text)), i -> ascii(substr(text, i, 1)) - 80)")
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), samples.as("sm"))
        .select(col("doc_id"),
          size(col("sm")).cast("bigint").as("n_samples"),
          expr("(size(sm) + 63) div 64").cast("bigint").as("n_frames"),
          expr("aggregate(sm, 0L, (a, x) -> a + cast(x as bigint) * cast(x as bigint))")
            .cast("bigint").as("energy"),
          expr("""aggregate(
                    zip_with(slice(sm, 1, size(sm) - 1), slice(sm, 2, size(sm) - 1),
                             (a, b) -> if(a * b < 0, 1L, 0L)),
                    0L, (acc, x) -> acc + x)""").cast("bigint").as("n_crossings"))
        .withColumn("rms_mq",
          floor(sqrt(col("energy").cast("double") / col("n_samples").cast("double"))
            * lit(1000)).cast("bigint"))
        .orderBy("doc_id")
    },

    // ---- ViT-style PATCH GRID off the real decoded raster: the
    // patchify step every vision-transformer ingest runs — each decoded
    // image is split into a 2×2 grid of ceil-half patches and each
    // patch reports its pixel count + integer pixel sum (the exact
    // pre-normalization patch statistics). Same codec path as q72/q73
    // (PNG encode → javax.imageio decode → raster reads), same
    // text-derivability: every pixel is payload[i mod len], so the
    // oracle reconstructs each patch sum from the text alone and any
    // codec or indexing slip hash-fails. Per-row bounded work behind
    // the same mapPartitions codec boundary. ----
    // ---- AUDIO PITCH PROXY via lag autocorrelation: r(L) = Σ x·x₊L
    // over the PCM stream (q263's byte-derived samples) at L ∈ {2,4,8};
    // the dominant lag is the argmax (ties → smallest lag) — the
    // periodicity detector behind cheap voiced/unvoiced and tone
    // screens. Exact int64 (|x| ≤ 175 ⇒ each product ≤ 3·10⁴, summed
    // over the doc's own length), one codegen HOF projection per lag —
    // zero shuffle, embarrassingly parallel at any corpus size. ----
    "q296_audio_autocorr" -> { (s, d) =>
      val samples = expr(
        "transform(sequence(1, length(text)), i -> cast(ascii(substr(text, i, 1)) - 80 as bigint))")
      def ac(l: Int) = expr(
        s"""aggregate(zip_with(slice(sm, 1, size(sm) - $l),
           |                  slice(sm, ${l + 1}, size(sm) - $l),
           |                  (a, b) -> a * b),
           |          0L, (acc, x) -> acc + x)""".stripMargin)
      Tables.documents(s, d)
        .filter(length(col("text")) > 8)
        .select(col("doc_id"), samples.as("sm"))
        .select(col("doc_id"), size(col("sm")).cast("bigint").as("n_samples"),
          ac(2).cast("bigint").as("r2"), ac(4).cast("bigint").as("r4"),
          ac(8).cast("bigint").as("r8"))
        .withColumn("best_lag",
          when(col("r2") >= col("r4") && col("r2") >= col("r8"), 2)
            .when(col("r4") >= col("r8"), 4).otherwise(8).cast("int"))
        .orderBy("doc_id")
    },

    // ---- VIDEO SCENE-CHANGE DETECTION over the frame stream: frames
    // are the 32-byte chunks of the payload (q74's frame convention);
    // consecutive frames compare by L1 distance over their first
    // min(len_k, len_k+1) bytes and a cut fires where the distance
    // crosses the threshold (16 per byte × 32 = 512). Per video:
    // frame count, cut count, max inter-frame distance — the
    // shot-boundary pre-pass a video curation pipeline runs before
    // frame sampling (q71 samples uniformly; cuts tell you WHERE to
    // sample). One HOF projection, zero shuffle. ----
    "q297_video_scene_cuts" -> { (s, d) =>
      val diffs = expr(
        """transform(sequence(0, int((length(text) + 31) div 32) - 2), k ->
          |  aggregate(
          |    zip_with(
          |      transform(sequence(1, int(least(32, length(text) - (k + 1) * 32))),
          |                i -> ascii(substr(text, k * 32 + i, 1))),
          |      transform(sequence(1, int(least(32, length(text) - (k + 1) * 32))),
          |                i -> ascii(substr(text, (k + 1) * 32 + i, 1))),
          |      (a, b) -> cast(abs(a - b) as bigint)),
          |    0L, (acc, x) -> acc + x))""".stripMargin)
      Tables.documents(s, d)
        .filter(length(col("text")) > 32)
        .select(col("doc_id"), length(col("text")).as("len"), diffs.as("df"))
        .select(col("doc_id"),
          expr("(len + 31) div 32").cast("bigint").as("n_frames"),
          size(col("df")).cast("bigint").as("n_diffs"),
          expr("aggregate(transform(df, x -> if(x > 512, 1L, 0L)), 0L, (a, x) -> a + x)")
            .cast("bigint").as("n_cuts"),
          expr("array_max(df)").cast("bigint").as("max_diff"))
        .orderBy("doc_id")
    },

    // ---- IMAGE SHARPNESS / EDGE ENERGY off the REAL decoded raster:
    // per image, the L1 horizontal and vertical gradient sums — the
    // blur/flat-image screen a vision-data pipeline runs before
    // training (a near-zero gradient mass is a solid-color or
    // heavily-blurred frame). Same mapPartitions codec boundary as
    // q72/q262 (true PNG encode→decode per row, gradients read off the
    // raster); the oracle reconstructs both sums from the payload
    // tiling contract, proving decode + neighborhood addressing
    // end-to-end. Per-row bounded work, embarrassingly parallel. ----
    "q295_image_gradients" -> { (s, d) =>
      import s.implicits._
      grayRaster(s, d)
        .mapPartitions { rs =>
          rs.flatMap { r =>
            if (r.len == 0) Iterator.empty
            else {
              val w = r.w; val h = r.h; val gray = r.gray
              var hg = 0L; var vg = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val v = gray(y * w + x) & 0xff
                  if (x < w - 1) hg += math.abs((gray(y * w + x + 1) & 0xff) - v)
                  if (y < h - 1) vg += math.abs((gray((y + 1) * w + x) & 0xff) - v)
                  x += 1
                }
                y += 1
              }
              Iterator.single((r.doc_id, w, h, w.toLong * h, hg, vg))
            }
          }
        }
        .toDF("doc_id", "w", "h", "n_px", "hgrad_sum", "vgrad_sum")
        .select(col("doc_id"), col("w").cast("int").as("w"),
          col("h").cast("int").as("h"), col("n_px").cast("bigint").as("n_px"),
          col("hgrad_sum").cast("bigint").as("hgrad_sum"),
          col("vgrad_sum").cast("bigint").as("vgrad_sum"))
        .orderBy("doc_id")
    },

    "q262_patch_grid" -> { (s, d) =>
      import s.implicits._
      grayRaster(s, d)
        .mapPartitions { rs =>
          rs.flatMap { r =>
            if (r.len == 0) Iterator.empty
            else {
              val w = r.w; val h = r.h; val gray = r.gray
              val pw = (w + 1) / 2; val ph = (h + 1) / 2
              val sums = Array.fill(4)(0L); val cnts = Array.fill(4)(0L)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = (y / ph) * 2 + (x / pw)
                  sums(p) += (gray(y * w + x) & 0xff); cnts(p) += 1L
                  x += 1
                }
                y += 1
              }
              (0 until 4).iterator.filter(p => cnts(p) > 0).map(p =>
                (r.doc_id, p / 2, p % 2, cnts(p), sums(p)))
            }
          }
        }
        .toDF("doc_id", "py", "px", "n_px", "px_sum")
        .select(col("doc_id"), col("py").cast("int").as("py"),
          col("px").cast("int").as("px"),
          col("n_px").cast("bigint").as("n_px"),
          col("px_sum").cast("bigint").as("px_sum"))
        .orderBy("doc_id", "py", "px")
    },

    // ---- LUMINANCE HISTOGRAM + RMS CONTRAST per image, off the REAL
    // decoded raster (the q72 javax.imageio path): the 8-bin intensity
    // profile plus root-mean-square contrast — the exposure/flat-image
    // screen a vision-data curation pass runs before spending encoder
    // compute (all-dark, all-blown, or zero-contrast images are
    // drop-on-sight). Bins are v >> 5 (pure integer), the contrast is
    // ONE sqrt over exact int64 power sums (floor-milli), and every
    // observable is a pure function of the payload the SQL oracle
    // recomputes from the text tiling. Per-partition codec boundary,
    // one output row per image. ----
    "q378_luminance_profile" -> { (s, d) =>
      import s.implicits._
      grayRaster(s, d)
        .mapPartitions { rs =>
          rs.flatMap { r =>
            if (r.len == 0) Iterator.empty
            else {
              val w = r.w; val h = r.h; val gray = r.gray
              val bins = Array.fill(8)(0L)
              var s1 = 0L; var s2 = 0L
              var i = 0
              while (i < w * h) {
                val v = gray(i) & 0xff
                bins(v >> 5) += 1L
                s1 += v; s2 += v.toLong * v
                i += 1
              }
              Iterator.single((r.doc_id, w.toLong * h, s1, s2,
                bins(0), bins(1), bins(2), bins(3),
                bins(4), bins(5), bins(6), bins(7)))
            }
          }
        }
        .toDF("doc_id", "n_px", "px_sum", "px_sum2",
          "b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7")
        .withColumn("contrast_milli", expr(
          "cast(floor(1000.0 * sqrt(cast(n_px * px_sum2 - px_sum * px_sum as double)) " +
            "/ cast(n_px as double)) as bigint)"))
        .select(col("doc_id"), col("n_px").cast("bigint").as("n_px"),
          col("px_sum").cast("bigint").as("px_sum"),
          col("px_sum2").cast("bigint").as("px_sum2"),
          col("b0").cast("bigint").as("b0"), col("b1").cast("bigint").as("b1"),
          col("b2").cast("bigint").as("b2"), col("b3").cast("bigint").as("b3"),
          col("b4").cast("bigint").as("b4"), col("b5").cast("bigint").as("b5"),
          col("b6").cast("bigint").as("b6"), col("b7").cast("bigint").as("b7"),
          col("contrast_milli"))
        .orderBy("doc_id")
    },

    // ---- REAL image resize: PNG decode (javax.imageio), then an
    // explicit nearest-neighbor 2× downsample off the decoded raster —
    // out(x,y) = src(2x, 2y) — implemented with direct sample reads
    // (NOT Graphics2D scaling, whose interpolation is implementation-
    // defined; raster sampling is bit-deterministic on every JVM).
    // Output checksums the resampled gray bytes, which the oracle
    // reconstructs from the text's tiling (pixel(i) = text byte
    // i mod len), proving decode + resample end-to-end. Empty payloads
    // yield NULL dims/checksum on both sides. ----
    "q73_resize_image" -> { (s, d) =>
      import s.implicits._
      val resized = grayRaster(s, d)
        .mapPartitions { rows =>
          rows.map { r =>
            if (r.len == 0) (r.doc_id, None: Option[Int], None: Option[Int], None: Option[Array[Byte]])
            else {
              val w = r.w; val gray = r.gray
              val ow = math.max(w / 2, 1); val oh = math.max(r.h / 2, 1)
              val out = new Array[Byte](ow * oh)
              var y = 0
              while (y < oh) {
                var x = 0
                while (x < ow) { out(y * ow + x) = gray(2 * y * w + 2 * x); x += 1 }
                y += 1
              }
              (r.doc_id, Some(ow), Some(oh), Some(out))
            }
          }
        }
        .toDF("doc_id", "out_w", "out_h", "resized")
      resized
        .select(col("doc_id"),
          col("out_w").cast("int").as("out_w"),
          col("out_h").cast("int").as("out_h"),
          (col("out_w") * col("out_h")).cast("bigint").as("n_px"),
          md5(col("resized")).as("resized_md5"))
        .orderBy("doc_id")
    }
  )

  override def oracle: Map[String, String] = Map(
    "q70_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum,
        |  lower(hex(substr(text, 1, 4))) AS header_hex,
        |  CAST((octet_length(encode(text)) + 31) // 32 AS BIGINT) AS n_frames
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q71_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         (octet_length(encode(text)) + 31) // 32 AS n_frames
        |  FROM documents)
        |SELECT doc_id, CAST(g.i AS BIGINT) AS frame_no,
        |       md5(substr(text, CAST(g.i * 32 + 1 AS INT), 32)) AS frame_md5
        |FROM f, UNNEST(generate_series(0, CAST(n_frames - 1 AS INT))) AS g(i)
        |WHERE g.i % 4 = 0
        |ORDER BY doc_id, frame_no""".stripMargin,

    // real decode, text-derivable observables: the generated image's
    // dims come from the first two bytes, pixels tile the text (ASCII:
    // byte i == ascii(char i+1)), so width/height/channels/mean off the
    // DECODED raster must equal these pure-text formulas — any codec
    // round-trip corruption breaks the match
    "q72_decode_image" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |         CASE WHEN length(text) = 0 THEN 0
        |              ELSE 1 + ascii(substr(text, 1, 1)) % 64 END AS w,
        |         CASE WHEN length(text) = 0 THEN 0
        |              ELSE 1 + ascii(substr(text, 2, 1)) % 64 END AS h
        |  FROM documents),
        |k AS (SELECT doc_id, text, w, h,
        |             least(w * h, length(text), 16) AS k FROM m)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(CASE WHEN k = 0 THEN 0 ELSE 3 END AS INT) AS channels,
        |       CASE WHEN k = 0 THEN 0.0 ELSE
        |         (SELECT SUM(ascii(substr(text, g.i, 1)))
        |          FROM UNNEST(generate_series(1, k)) AS g(i))
        |           / CAST(k AS DOUBLE) END AS mean_byte
        |FROM k
        |ORDER BY doc_id""".stripMargin,

    // same centered-sample interpretation, exact integer energy and
    // strict-sign-flip crossings; sqrt of the int64-derived double is
    // IEEE-exactly-rounded, so the floored milli-RMS matches bit-exactly
    "q263_audio_features" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len
        |           FROM documents WHERE length(text) > 0),
        |s AS (
        |  SELECT doc_id, len,
        |         list_transform(generate_series(1, len),
        |                        i -> ascii(substr(text, CAST(i AS INT), 1)) - 80) AS sm
        |  FROM d)
        |SELECT doc_id,
        |       CAST(len AS BIGINT) AS n_samples,
        |       CAST((len + 63) // 64 AS BIGINT) AS n_frames,
        |       CAST(list_sum(list_transform(sm, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS energy,
        |       CAST(COALESCE(list_sum(list_transform(generate_series(2, len),
        |              i -> CASE WHEN sm[CAST(i AS INT)] * sm[CAST(i - 1 AS INT)] < 0 THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_crossings,
        |       CAST(floor(sqrt(CAST(list_sum(list_transform(sm, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS DOUBLE)
        |                       / CAST(len AS DOUBLE)) * 1000) AS BIGINT) AS rms_mq
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // pixel(i) = text byte (i mod len); patch membership from the same
    // ceil-half grid arithmetic — integer sums, exact compare
    // same PCM byte contract (q263); per-lag list products, same
    // smallest-lag tie rule
    "q296_audio_autocorr" ->
      """WITH s AS (
        |  SELECT doc_id, length(text) AS n, text
        |  FROM documents WHERE length(text) > 8),
        |r AS (
        |  SELECT doc_id, n,
        |         CAST(list_sum(list_transform(generate_series(1, n - 2),
        |           i -> (ascii(substr(text, i, 1)) - 80) * (ascii(substr(text, i + 2, 1)) - 80))) AS BIGINT) AS r2,
        |         CAST(list_sum(list_transform(generate_series(1, n - 4),
        |           i -> (ascii(substr(text, i, 1)) - 80) * (ascii(substr(text, i + 4, 1)) - 80))) AS BIGINT) AS r4,
        |         CAST(list_sum(list_transform(generate_series(1, n - 8),
        |           i -> (ascii(substr(text, i, 1)) - 80) * (ascii(substr(text, i + 8, 1)) - 80))) AS BIGINT) AS r8
        |  FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, r2, r4, r8,
        |       CAST(CASE WHEN r2 >= r4 AND r2 >= r8 THEN 2
        |                 WHEN r4 >= r8 THEN 4 ELSE 8 END AS INT) AS best_lag
        |FROM r
        |ORDER BY doc_id""".stripMargin,

    // same 32-byte frame convention (q74), L1 over the shorter frame,
    // same 512 threshold
    "q297_video_scene_cuts" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len, (length(text) + 31) // 32 AS nf
        |  FROM documents WHERE length(text) > 32),
        |pairs AS (
        |  SELECT doc_id, nf, g.k AS k, text,
        |         least(32, len - (g.k + 1) * 32) AS m
        |  FROM d, UNNEST(generate_series(0, nf - 2)) AS g(k)),
        |diffs AS (
        |  SELECT doc_id, nf, k,
        |         CAST(sum(abs(ascii(substr(text, k * 32 + h.i, 1))
        |                    - ascii(substr(text, (k + 1) * 32 + h.i, 1)))) AS BIGINT) AS df
        |  FROM pairs, UNNEST(generate_series(1, m)) AS h(i)
        |  GROUP BY doc_id, nf, k)
        |SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
        |       CAST(count(*) AS BIGINT) AS n_diffs,
        |       CAST(sum(CASE WHEN df > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |       CAST(max(df) AS BIGINT) AS max_diff
        |FROM diffs GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // same tiling contract; neighbor pixels addressed as i+1 (same row)
    // and i+w (next row) through the byte-replication formula
    "q295_image_gradients" ->
      """WITH m AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         1 + ascii(substr(text, 1, 1)) % 64 AS w,
        |         1 + ascii(substr(text, 2, 1)) % 64 AS h
        |  FROM documents WHERE length(text) > 0),
        |px AS (
        |  SELECT doc_id, w, h, g.i AS i,
        |         ascii(substr(text, (g.i % len) + 1, 1)) AS v,
        |         CASE WHEN g.i % w < w - 1
        |              THEN ascii(substr(text, ((g.i + 1) % len) + 1, 1)) END AS vr,
        |         CASE WHEN g.i < w * (h - 1)
        |              THEN ascii(substr(text, ((g.i + w) % len) + 1, 1)) END AS vd
        |  FROM m, UNNEST(generate_series(0, w * h - 1)) AS g(i))
        |SELECT doc_id, CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
        |       CAST(count(*) AS BIGINT) AS n_px,
        |       CAST(sum(CASE WHEN vr IS NULL THEN 0 ELSE abs(vr - v) END) AS BIGINT) AS hgrad_sum,
        |       CAST(sum(CASE WHEN vd IS NULL THEN 0 ELSE abs(vd - v) END) AS BIGINT) AS vgrad_sum
        |FROM px GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q262_patch_grid" ->
      """WITH m AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         1 + ascii(substr(text, 1, 1)) % 64 AS w,
        |         1 + ascii(substr(text, 2, 1)) % 64 AS h
        |  FROM documents WHERE length(text) > 0),
        |pg AS (
        |  SELECT doc_id,
        |         (g.i // w) // ((h + 1) // 2) AS py,
        |         (g.i % w) // ((w + 1) // 2) AS px,
        |         ascii(substr(text, (g.i % len) + 1, 1)) AS v
        |  FROM m, UNNEST(generate_series(0, w * h - 1)) AS g(i))
        |SELECT doc_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
        |       CAST(count(*) AS BIGINT) AS n_px,
        |       CAST(sum(v) AS BIGINT) AS px_sum
        |FROM pg GROUP BY doc_id, py, px
        |ORDER BY doc_id, py, px""".stripMargin,

    // same payload tiling; v//32 bins and the identical one-sqrt
    // floor-milli RMS contrast over exact power sums
    "q378_luminance_profile" ->
      """WITH m AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         1 + ascii(substr(text, 1, 1)) % 64 AS w,
        |         1 + ascii(substr(text, 2, 1)) % 64 AS h
        |  FROM documents WHERE length(text) > 0),
        |px AS (
        |  SELECT doc_id, ascii(substr(text, (g.i % len) + 1, 1)) AS v
        |  FROM m, UNNEST(generate_series(0, w * h - 1)) AS g(i)),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
        |         CAST(sum(v) AS BIGINT) AS px_sum,
        |         CAST(sum(v * v) AS BIGINT) AS px_sum2,
        |         CAST(sum(CASE WHEN v // 32 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
        |         CAST(sum(CASE WHEN v // 32 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |         CAST(sum(CASE WHEN v // 32 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |         CAST(sum(CASE WHEN v // 32 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
        |         CAST(sum(CASE WHEN v // 32 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
        |         CAST(sum(CASE WHEN v // 32 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
        |         CAST(sum(CASE WHEN v // 32 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
        |         CAST(sum(CASE WHEN v // 32 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
        |  FROM px GROUP BY doc_id)
        |SELECT doc_id, n_px, px_sum, px_sum2, b0, b1, b2, b3, b4, b5, b6, b7,
        |       CAST(floor(1000.0 * sqrt(CAST(n_px * px_sum2 - px_sum * px_sum AS DOUBLE)) / CAST(n_px AS DOUBLE)) AS BIGINT) AS contrast_milli
        |FROM agg
        |ORDER BY doc_id""".stripMargin,

    // frames-as-tokens simhash, mirrored from q42's 64-bit 5-band
    // construction (shared generators — the two oracles cannot drift)
    "q74_phash_neardup" -> {
      val nibbles = DedupPack.nibbleExprs("strpos").mkString(", ")
      val votes = DedupPack.voteExprs("//").mkString(", ")
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
         |fr AS (SELECT doc_id, substr(text, CAST(g.i * 32 + 1 AS INT), 32) AS w
         |       FROM d, UNNEST(generate_series(0,
         |              CAST((length(text) + 31) // 32 - 1 AS INT))) AS g(i)),
         |nib AS (SELECT doc_id, $nibbles FROM fr),
         |vote AS (SELECT doc_id, $votes FROM nib GROUP BY doc_id),
         |sims AS (SELECT doc_id, ${DedupPack.simhashExpr} AS phash,
         |                ${DedupPack.bandValExprs.mkString(", ")} FROM vote),
         |${DedupPack.bandsCtes("phash")}
         |cand AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |                a.phash AS phash_i, b.phash AS phash_j
         |         FROM bands a JOIN bands b
         |           ON a.bk = b.bk AND a.band_id = b.band_id
         |          AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |          AND ${DedupPack.emitOnceSql})
         |SELECT doc_i, doc_j, phash_i, phash_j,
         |       CAST(bit_count(xor(phash_i, phash_j)) AS INT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(phash_i, phash_j)) <= 4
         |ORDER BY doc_i, doc_j""".stripMargin
    },

    // real decode + nearest-neighbor resample, reconstructed from text:
    // out(x,y) = src(2x,2y), src pixel i = text byte (i mod len) — the
    // md5 of the resampled bytes must match the Spark side's checksum
    // of raster-read pixels. Empty text → NULL dims/md5 on both sides
    // (the greatest(len,1) keeps the modulus total even though the CASE
    // makes it unreachable).
    "q73_resize_image" ->
      """WITH m AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         1 + ascii(substr(text, 1, 1)) % 64 AS w,
        |         1 + ascii(substr(text, 2, 1)) % 64 AS h
        |  FROM documents),
        |r AS (SELECT doc_id, text, len, w,
        |             greatest(w // 2, 1) AS ow, greatest(h // 2, 1) AS oh
        |      FROM m)
        |SELECT doc_id,
        |  CAST(CASE WHEN len = 0 THEN NULL ELSE ow END AS INT) AS out_w,
        |  CAST(CASE WHEN len = 0 THEN NULL ELSE oh END AS INT) AS out_h,
        |  CAST(CASE WHEN len = 0 THEN NULL ELSE ow * oh END AS BIGINT) AS n_px,
        |  CASE WHEN len = 0 THEN NULL ELSE
        |    md5((SELECT string_agg(substr(text,
        |                 ((2 * (g.i // ow) * w + 2 * (g.i % ow)) % greatest(len, 1)) + 1, 1),
        |               '' ORDER BY g.i)
        |         FROM UNNEST(generate_series(0, ow * oh - 1)) AS g(i))) END AS resized_md5
        |FROM r
        |ORDER BY doc_id""".stripMargin
  )
}
