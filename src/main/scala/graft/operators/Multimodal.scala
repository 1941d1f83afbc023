package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2.10): media as opaque binary
  * columns + typed metadata struct, with decode/feature-extract stages as
  * partition-wise batch transforms.
  *
  * The decode itself is STUBBED (this container has no image/audio
  * codecs): `decodeStub` derives deterministic fake dimensions from the
  * payload bytes. Everything around it — the binary+struct schema, the
  * mapPartitions batch shape (one decoder init per partition, not per
  * row), partition sizing — is the real production plumbing: swap
  * `decodeStub` for a JNI/FFI codec call and nothing else changes.
  */
object Multimodal {

  /** Wrap a text corpus as a media table: payload = utf-8 bytes (stand-in
    * for image/audio bytes), meta = size + content hash + fake type. */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast(LongType).as("doc_id"),
      col(textCol).cast(BinaryType).as("payload"),
      struct(
        length(col(textCol).cast(BinaryType)).as("n_bytes"),
        sha2(col(textCol).cast(BinaryType), 256).as("content_hash"),
        (when(col(idCol) % 2 === 0, "image/png")
          .otherwise("audio/wav")).as("media_type")).as("meta"))

  case class Decoded(doc_id: Long, width: Int, height: Int, n_frames: Int,
                     mean_luma: Double)

  /** STUB decode: deterministic fake of a codec call — dimensions and a
    * "mean luma" derived from the payload's md5. The accumulator is the
    * first 8 md5 hex chars as an unsigned 32-bit value, i.e. exactly
    * `CAST('0x'||substr(md5(payload),1,8) AS BIGINT)` in DuckDB — so the
    * whole decode stage is hash-verifiable by the oracle, not merely
    * deterministic. A real implementation would hand `bytes` to the
    * per-partition-initialized decoder instead. */
  private def decodeStub(md: java.security.MessageDigest, docId: Long,
                         bytes: Array[Byte]): Decoded = {
    md.reset()
    val digest = md.digest(bytes)
    var acc = 0L
    var i = 0
    while (i < 4) { acc = (acc << 8) | (digest(i) & 0xffL); i += 1 }
    val w = 320 + (acc % 1600).toInt
    val h = 240 + ((acc >> 7) % 840).toInt
    val frames = 1 + ((acc >> 13) % 240).toInt
    val luma = ((acc >> 3) % 256).toDouble / 255.0
    Decoded(docId, w, h, frames, luma)
  }

  /** Partition-wise decode stage. mapPartitions (not map) so a real codec
    * is initialized once per task — the batch shape a Pandas-UDF/Arrow
    * stage would have; here the per-partition "decoder" is the
    * MessageDigest instance. */
  def decode(media: DataFrame): Dataset[Decoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // the real codec would be initialized here, once per task,
        // exactly like this digest instance
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          decodeStub(md, id, if (bytes == null) Array.emptyByteArray else bytes)
        }
      }
  }

  /** Resize PLAN stage: the letterbox geometry (scale factor + even
    * output dims, never upscaling) every media pipeline computes before
    * handing payloads to the actual scaler. Pure double arithmetic on
    * the decoded dims — IEEE binary64 is engine-exact, so the whole
    * geometry is oracle-verifiable; the payload transform itself would
    * ride the same mapPartitions shape as [[decode]]. */
  def resizePlan(decoded: Dataset[Decoded], maxW: Int = 1280,
                 maxH: Int = 720): DataFrame =
    decoded.toDF()
      .select(col("doc_id"), col("width"), col("height"),
        least(lit(1.0), least(
          lit(maxW.toDouble) / col("width"),
          lit(maxH.toDouble) / col("height"))).as("__scale"))
      .select(col("doc_id"), col("width"), col("height"),
        round(col("__scale"), 6).as("scale"),
        (floor(col("width") * col("__scale") / 2) * 2).cast(IntegerType).as("out_w"),
        (floor(col("height") * col("__scale") / 2) * 2).cast(IntegerType).as("out_h"))

  /** Frame-sampling WORK LIST: one row per (doc, frame index) at every
    * `stride`th frame — the exploded shape a distributed frame
    * extractor consumes (each row an independent task; repartitionable
    * to any parallelism, unlike the per-doc array form). */
  def frameTasks(decoded: Dataset[Decoded], stride: Int = 30): DataFrame =
    decoded.toDF().select(col("doc_id"),
      // n_frames = 0 (a real decoder's corrupt-file / still-image case)
      // must yield zero work items, not an illegal-sequence error;
      // explode of the null branch emits no rows
      explode(when(col("n_frames") > 0,
        sequence(lit(0), col("n_frames") - 1, lit(stride)))).as("frame_idx"))

  /** 64-bit dHash (difference hash — the standard perceptual image
    * fingerprint: resize to a 9×8 luma grid, emit one bit per horizontal
    * gradient sign) over the STUB decode's luma grid: cell (r, c) of the
    * 8×9 grid takes its luma from the md5 of ITS SLICE of the
    * hex-encoded payload (slice k of 72 = hex chars
    * [⌊L·k/72⌋+1, ⌊L·(k+1)/72⌋], u32(md5(slice)) mod 256 — the
    * [[decodeStub]] recipe per cell), so a same-length LOCAL edit
    * perturbs only the cells covering it, exactly like a local edit in
    * a real image perturbs only its region's luma. A real
    * implementation swaps the slice-md5 for the decoder's downscaled
    * luma; everything downstream (gradient bits, banding, hamming) is
    * the production algorithm. Bit i (= r·8+c) is set when
    * luma(r, c+1) > luma(r, c); the whole chain is ONE fused
    * [[graft.functions.DHash64]] expression (72 digests, one reused
    * MessageDigest — the 500-node composed-builtin form it replaced is
    * kept as [[dHashComposed]] for the parity spec), zero exchange,
    * DuckDB-replayable. Output: (idCol, dhash: long). */
  def dHash(media: DataFrame, idCol: String = "doc_id",
            payloadCol: String = "payload"): DataFrame =
    media.select(col(idCol),
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.DHash64(org.apache.spark.sql.GraftBridge.expression(
          col(payloadCol).cast(BinaryType)))).as("dhash"))

  /** The composed-builtin form [[graft.functions.DHash64]] replaced —
    * 72 `md5(substr(hex(payload), …))` slice subtrees + a 64-branch bit
    * sum, ~500 expression nodes per projection (the [[dHash]] scaladoc's
    * chain spelled out as builtins). Kept as the parity SPEC for the
    * fused expression (LlmOpsSpec pins bit-equality over real, null,
    * and empty payloads) and as the documentation of record for the
    * DuckDB oracle's replay; production paths all ride [[dHash]]. */
  private[graft] def dHashComposed(media: DataFrame, idCol: String = "doc_id",
                                   payloadCol: String = "payload"): DataFrame = {
    val h = lower(hex(col(payloadCol)))
    // widen before multiplying: len * 71 overflows IntegerType for
    // payloads past ~15 MB (hex length ~30M), throwing under ANSI
    val len = length(h).cast("long")
    val lum = (0 until 72).map { k =>
      val st = (floor(len * lit(k.toLong) / 72) + 1).cast("int")
      val en = floor(len * lit((k + 1).toLong) / 72).cast("int")
      conv(substring(md5(substr(h, st, greatest(en - st + 1, lit(0)))), 1, 8),
        16, 10).cast("long") % 256
    }
    val bits = (0 until 64).map { i =>
      val r = i / 8; val c = i % 8
      // element_at is 1-based; cell (r, c) sits at r*9 + c
      when(element_at(col("__lum"), r * 9 + c + 2) >
             element_at(col("__lum"), r * 9 + c + 1),
        lit(1L << i)).otherwise(lit(0L))
    }
    media.select(col(idCol), array(lum: _*).as("__lum"))
      .select(col(idCol), bits.reduce(_ + _).as("dhash"))
  }

  /** Perceptual near-duplicate pairs over the media column — the dedup
    * mandate extended to images: [[dHash]] fingerprints, banded into
    * `nBands` disjoint bit ranges for candidate pairing (the
    * minhash-band shape: the self-join key is a (band_idx, band_val)
    * tuple, never the corpus), exact hamming confirms ≤ `maxHamming`.
    * Recall is EXACT whenever `maxHamming < nBands` (pigeonhole: fewer
    * differing bits than bands leaves at least one band untouched), so
    * the banded output EQUALS the brute-force pair scan the DuckDB
    * oracle runs. Payload bytes never cross the join — only (id, 64-bit
    * hash, 16-bit band values). `maxBucketSize` is the 100 TB hot-bucket
    * guard ([[graft.operators.Dedup.capBuckets]], the
    * [[graft.operators.Dedup.minhashPairs]] contract): a degenerate
    * payload population (blank or constant media — common in crawls)
    * floods one (band_idx, band_val) bucket and the self-join goes
    * quadratic; capped buckets are DROPPED whole, trading recall inside
    * the flooded bucket for a bounded join (pairs still matching on an
    * uncapped band survive). Output: (id_a, id_b, hamming), id_a < id_b. */
  def imageNearDups(media: DataFrame, idCol: String = "doc_id",
                    payloadCol: String = "payload",
                    maxHamming: Int = 3, nBands: Int = 4,
                    maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(maxHamming, nBands)
    bandedSelfPairs(dHash(media, idCol, payloadCol), idCol, maxHamming,
      nBands, maxBucketSize)
  }

  /** The band-parameter check of every banded media operator. */
  private def requireBands(maxHamming: Int, nBands: Int): Unit = {
    require(nBands >= 1 && 64 % nBands == 0,
      s"nBands must divide 64, got $nBands")
    require(maxHamming >= 0 && maxHamming < nBands,
      s"banded recall is exact only for maxHamming < nBands " +
        s"(got maxHamming=$maxHamming, nBands=$nBands) — raise nBands")
  }

  /** The banded hash self-join of the media family through
    * [[Dedup.bucketPairs]], over a frame of (idCol, `keys`, `hash`:
    * long) — (idCol, dhash) for images and audio, (idCol, frame_idx,
    * fhash) for [[videoFrames]] tables, whose candidates must also share
    * the frame index. Output: (id_a, id_b, `keys`, hamming), one row per
    * pair and key within `maxHamming`. */
  private def bandedSelfPairs(df: DataFrame, idCol: String,
                              maxHamming: Int, nBands: Int,
                              maxBucketSize: Option[Int],
                              hash: String = "dhash",
                              keys: Seq[String] = Nil): DataFrame =
    Dedup.bucketPairs(bandRowsOf(df, idCol, nBands, hash, keys), idCol,
        keys ++ Dedup.BandKey, maxBucketSize)
      .select(Seq(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b")) ++
        keys.map(k => col(s"x.$k").as(k)) :+
        bit_count(col(s"x.$hash").bitwiseXOR(col(s"y.$hash"))).as("hamming"): _*)
      .distinct() // one row per pair (and key) — multi-band hits collapse
      .filter(col("hamming") <= maxHamming)

  /** One row per (id, `keys`, `hash`, band) over an (idCol, `keys`,
    * `hash`) frame — the banded join side of every media operator (pure
    * projection: band values are bit ranges of the hash). */
  private[graft] def bandRowsOf(dh: DataFrame, idCol: String, nBands: Int,
                                hash: String = "dhash",
                                keys: Seq[String] = Nil): DataFrame = {
    val w = 64 / nBands
    Dedup.bandRows(dh, (idCol +: keys) :+ hash,
      (0 until nBands).map { b =>
        // mask, never `%`: a sign-following mod on the unshifted band 0
        // (a hash with bit 63 set is negative) would emit a band value
        // no other hash sharing the low bits can match, silently
        // breaking the pigeonhole exact-recall contract
        if (w == 64) col(hash)
        else shiftrightunsigned(col(hash), w * b).bitwiseAND(lit((1L << w) - 1))
      })
  }

  /** Incremental perceptual admission — [[imageNearDups]]'s
    * new-shard-versus-STORED form, the image counterpart of
    * [[graft.operators.Dedup.minhashProbe]]: `corpusHashes` is the
    * persisted [[dHash]] frame (idCol, dhash) read back from parquet —
    * 8 bytes a row, written once, the corpus payloads never touched
    * again — and each incoming media row hashes PER ROW (pure builtin
    * projection, stream-safe: the probe runs unchanged on a micro-batch
    * or a stream, no state, no watermark; StreamingSpec pins stream ==
    * batch). Candidates pair on the (band_idx, band_val) equi-join,
    * exact hamming confirms ≤ `maxHamming` — recall exact whenever
    * maxHamming < nBands, like the self-join form.
    *
    * DUPLICATE CONTRACT (the [[graft.streaming.Corpus.admitProbe]]
    * precedent): a pair sharing b bands appears b times — a distinct
    * would be stateful on a stream; admission semantics (ANY hit ⇒
    * bounce) are unaffected, batch callers `dropDuplicates`. Output:
    * (id_new, id_corpus, hamming). */
  def imageNearDupsBetween(newMedia: DataFrame, corpusHashes: DataFrame,
                           idCol: String = "doc_id",
                           payloadCol: String = "payload",
                           maxHamming: Int = 3, nBands: Int = 4,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(maxHamming, nBands)
    require(corpusHashes.columns.contains("dhash") &&
        corpusHashes.columns.contains(idCol),
      s"stored hash frame must carry ($idCol, dhash) — store dHash's output")
    bandedProbePairs(dHash(newMedia, idCol, payloadCol), corpusHashes,
        idCol, nBands, maxBucketSize)
      .filter(col("hamming") <= maxHamming)
  }

  /** The stored-frame probe join of the media family: new rows band
    * through [[bandRowsOf]] and equi-join the capped corpus bands on
    * (`keys`, band) — both sides (idCol, `keys`, `hash`), laid out as in
    * [[bandedSelfPairs]]. Output: (id_new, id_corpus, `keys`, hamming)
    * for every shared bucket, unconfirmed. */
  private def bandedProbePairs(newDh: DataFrame, corpusHashes: DataFrame,
                               idCol: String, nBands: Int,
                               maxBucketSize: Option[Int],
                               hash: String = "dhash",
                               keys: Seq[String] = Nil): DataFrame = {
    val newB = bandRowsOf(newDh, idCol, nBands, hash, keys)
      .select(Seq(col(idCol).as("id_new")) ++ keys.map(col) ++
        Seq(col(hash).as("__hn"), col("band_idx"), col("band_val")): _*)
    // cap the CORPUS side's hot buckets (the minhashPairsBetween
    // contract: a boilerplate bucket in the old corpus is exactly what
    // a degenerate new shard collides with; the new side is shard-sized)
    val corB = Dedup.capBuckets(
        bandRowsOf(corpusHashes.select(Seq(col(idCol)) ++
          keys.map(k => col(k).cast("int").as(k)) :+
          col(hash).cast("long").as(hash): _*), idCol, nBands, hash, keys),
        keys ++ Dedup.BandKey, maxBucketSize)
      .select(Seq(col(idCol).as("id_corpus")) ++ keys.map(col) ++
        Seq(col(hash).as("__hc"), col("band_idx"), col("band_val")): _*)
    newB.join(corB, keys ++ Dedup.BandKey)
      .select(Seq(col("id_new"), col("id_corpus")) ++ keys.map(col) :+
        bit_count(col("__hn").bitwiseXOR(col("__hc"))).as("hamming"): _*)
  }

  /** 64-bit AUDIO fingerprint over the media column — the remaining
    * modality beside the image dHash family: the Haitsma–Kalker
    * energy-difference recipe as one fused expression
    * ([[graft.functions.AudioFp64]] — 3 frames × 33 band energies from
    * the stub decode's slice-md5 grid, bit = sign of the time×band
    * double difference; a real implementation swaps the grid for FFT
    * band energies over PCM frames, everything downstream unchanged).
    * Pure zero-shuffle projection. Output: (idCol, afp: long). */
  def audioFp(media: DataFrame, idCol: String = "doc_id",
              payloadCol: String = "payload"): DataFrame =
    media.select(col(idCol),
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.AudioFp64(org.apache.spark.sql.GraftBridge.expression(
          col(payloadCol).cast(BinaryType)))).as("afp"))

  /** Audio near-duplicate pairs — [[imageNearDups]]'s machinery over
    * [[audioFp]] (banded candidate pairing, exact hamming confirm,
    * recall exact for maxHamming < nBands, hot-bucket cap). Output:
    * (id_a, id_b, hamming), id_a < id_b. */
  def audioNearDups(media: DataFrame, idCol: String = "doc_id",
                    payloadCol: String = "payload",
                    maxHamming: Int = 3, nBands: Int = 4,
                    maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(maxHamming, nBands)
    bandedSelfPairs(
      audioFp(media, idCol, payloadCol).withColumnRenamed("afp", "dhash"),
      idCol, maxHamming, nBands, maxBucketSize)
  }

  /** Incremental audio admission — [[imageNearDupsBetween]] over a
    * STORED [[audioFp]] frame (idCol, afp): incoming media fingerprints
    * per row (pure projection, stream-safe), candidates pair on the
    * band equi-join, exact hamming confirms. Same duplicate contract
    * (a pair sharing b bands appears b times — admission semantics
    * unaffected; batch callers dropDuplicates). Output:
    * (id_new, id_corpus, hamming). */
  def audioNearDupsBetween(newMedia: DataFrame, corpusFps: DataFrame,
                           idCol: String = "doc_id",
                           payloadCol: String = "payload",
                           maxHamming: Int = 3, nBands: Int = 4,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(maxHamming, nBands)
    require(corpusFps.columns.contains("afp") &&
        corpusFps.columns.contains(idCol),
      s"stored fingerprint frame must carry ($idCol, afp) — store " +
        "audioFp's output")
    bandedProbePairs(
        audioFp(newMedia, idCol, payloadCol).withColumnRenamed("afp", "dhash"),
        corpusFps.withColumnRenamed("afp", "dhash"), idCol, nBands,
        maxBucketSize)
      .filter(col("hamming") <= maxHamming)
  }

  /** Frame-sampled per-frame perceptual hashes — the VIDEO modality
    * (the third of the mandate's image/audio/video triple): the stub
    * frame-sample cuts the payload into `nFrames` contiguous byte
    * ranges (frame f = bytes [⌊L·f/F⌋, ⌊L·(f+1)/F⌋) — a real
    * implementation hands the container to the per-partition decoder
    * and samples keyframes; the byte-range cut is the deterministic
    * stand-in with the same downstream shape), and each frame gets the
    * SAME fused 64-bit dHash the image family uses
    * ([[graft.functions.DHash64]] over the frame's bytes — hex of a
    * byte slice is the aligned slice of the payload's hex, so the
    * DuckDB oracle replays per-frame hashes exactly). Pure zero-shuffle
    * projection, `nFrames`·72 digests per row. A same-length LOCAL edit
    * perturbs only the frame(s) covering it — the temporal analogue of
    * the image family's locality. NULL payload → 0L fhash per frame
    * (the DHash64 null convention, applied frame-wise).
    * Output: (idCol, frame_idx: int, fhash: long) — the frame table a
    * video index STORES (8 bytes × nFrames per video; payloads never
    * re-read). */
  def videoFrames(media: DataFrame, idCol: String = "doc_id",
                  payloadCol: String = "payload",
                  nFrames: Int = 4): DataFrame = {
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    val pay = col(payloadCol).cast(BinaryType)
    val len = length(pay).cast("long")
    val frames = (0 until nFrames).map { f =>
      // byte range [⌊L·f/F⌋, ⌊L·(f+1)/F⌋) as a 1-based substr; the
      // double division inside floor is exact below 2^53 (payloads are
      // < 2^31 bytes), and the SAME arithmetic runs in the oracle with
      // integer `//`
      val s0 = floor(len * lit(f.toLong) / lit(nFrames.toLong))
      val e0 = floor(len * lit((f + 1).toLong) / lit(nFrames.toLong))
      val slice = pay.substr((s0 + 1).cast("int"), (e0 - s0).cast("int"))
      struct(lit(f).as("frame_idx"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.DHash64(org.apache.spark.sql.GraftBridge
            .expression(slice))).as("fhash"))
    }
    media.select(col(idCol), explode(array(frames: _*)).as("fr"))
      .select(col(idCol), col("fr.frame_idx").as("frame_idx"),
        col("fr.fhash").as("fhash"))
  }

  /** Video near-duplicate pairs — the image/audio banding discipline
    * with a TEMPORAL match count: two videos pair when at least
    * `minFrames` of their sampled frames agree frame-for-frame within
    * `maxHamming` bits (the standard sampled-frame video-dedup
    * criterion: a re-encode/watermark perturbs every frame a little, a
    * different video matches almost nowhere). Per frame the banded
    * recall is EXACT for `maxHamming < nBands` (the pigeonhole
    * argument, per frame), so the matched-frame COUNT — and therefore
    * the pair set — equals the brute-force all-pairs scan the DuckDB
    * oracle runs. Candidates join on (frame_idx, band_idx, band_val) —
    * payloads never cross the exchange, only (id, frame, 8-byte hash,
    * band value); `maxBucketSize` caps hot (frame, band) buckets
    * (constant-media crawls) exactly like the image family.
    * Output: (id_a, id_b, n_frames_matched), id_a < id_b, count >=
    * `minFrames`. */
  def videoNearDups(media: DataFrame, idCol: String = "doc_id",
                    payloadCol: String = "payload", nFrames: Int = 4,
                    maxHamming: Int = 3, nBands: Int = 4,
                    minFrames: Int = 3,
                    maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(maxHamming, nBands)
    require(minFrames >= 1 && minFrames <= nFrames,
      s"minFrames must be in [1, $nFrames], got $minFrames")
    bandedSelfPairs(videoFrames(media, idCol, payloadCol, nFrames), idCol,
        maxHamming, nBands, maxBucketSize, "fhash", Seq("frame_idx"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minFrames)
  }

  /** Incremental video admission — the probe form over a STORED
    * [[videoFrames]] table (idCol, frame_idx, fhash): incoming media
    * frame-hash per row (pure projection), candidates pair on the
    * (frame_idx, band_idx, band_val) equi-join, exact hamming confirms,
    * and the per-pair DISTINCT matched-frame count gates admission.
    * Unlike the image/audio probes this form aggregates per pair (the
    * frame count IS the criterion), so it is micro-batch-safe rather
    * than row-stateless; the corpus side's hot (frame, band) buckets
    * take the cap. Output: (id_new, id_corpus, n_frames_matched),
    * count >= `minFrames`. */
  def videoNearDupsBetween(newMedia: DataFrame, corpusFrames: DataFrame,
                           idCol: String = "doc_id",
                           payloadCol: String = "payload", nFrames: Int = 4,
                           maxHamming: Int = 3, nBands: Int = 4,
                           minFrames: Int = 3,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(maxHamming, nBands)
    require(minFrames >= 1 && minFrames <= nFrames,
      s"minFrames must be in [1, $nFrames], got $minFrames")
    require(Seq("frame_idx", "fhash", idCol)
        .forall(corpusFrames.columns.contains),
      s"stored frame table must carry ($idCol, frame_idx, fhash) — " +
        "store videoFrames' output")
    bandedProbePairs(videoFrames(newMedia, idCol, payloadCol, nFrames),
        corpusFrames, idCol, nBands, maxBucketSize, "fhash", Seq("frame_idx"))
      .distinct() // one row per (pair, frame)
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_new"), col("id_corpus"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minFrames)
  }

  /** Feature-extract stage over decoded media: bucketed resolution class
    * + frame-sampling positions (every `stride`th frame). */
  def features(decoded: Dataset[Decoded], stride: Int = 30): DataFrame = {
    decoded.toDF().select(
      col("doc_id"), col("width"), col("height"), col("n_frames"),
      when(col("width") >= 1280, "hd").otherwise("sd").as("res_class"),
      // empty array (not an illegal-sequence error) when a real decoder
      // reports zero frames
      when(col("n_frames") > 0, sequence(lit(0), col("n_frames") - 1, lit(stride)))
        .otherwise(array().cast("array<int>")).as("sampled_frames"),
      round(col("mean_luma"), 6).as("mean_luma"))
  }
}
