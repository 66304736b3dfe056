package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with
  * typed metadata, decoded/feature-extracted in batch per partition.
  *
  * The codec is the injectable [[MediaDecoder]] seam (default:
  * [[MediaDecoder.Stub]] — no image/audio libraries in this container).
  * Everything here — the binary schema, the mapPartitions batch shape
  * (one decoder init per partition, streaming rows through it), the
  * metadata struct, partition-count independence, the pigeonhole phash
  * join — is the real production plumbing a codec drops into without
  * touching the operators.
  */
object Multimodal {

  /** Attach a binary payload column (here: utf-8 of text, standing in for
    * image bytes) and run the batch decode → metadata extraction.
    *
    * Typed `Dataset.mapPartitions` (not an RDD round-trip): the same
    * one-decoder-init-per-partition contract, but the result stays in
    * the Dataset engine — Tungsten rows in, Tungsten rows out, so the
    * downstream mm_* aggregations keep whole-stage codegen.
    */
  def decodeMeta(docs: DataFrame,
                 decoder: MediaDecoder = MediaDecoder.Stub): DataFrame =
    decodeMetaBinary(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")),
      decoder)

  /** Binary-column twin of [[decodeMeta]] — the PRODUCTION shape
    * (media are opaque `binary` columns with typed metadata; the text
    * cast above is the sandbox stand-in). Input: (doc_id, payload).
    */
  def decodeMetaBinary(docs: DataFrame,
                       decoder: MediaDecoder = MediaDecoder.Stub): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        decoder.decoderInit() // once per partition — native setup hook
        rows.map { case (id, payload) =>
          val m = decoder.decode(payload)
          (id, payload.length.toLong, m.format, m.width, m.height, m.checksum)
        }
      }
      .toDF("doc_id", "byte_len", "format", "width", "height", "checksum")
  }

  /** Frame sampling over "video" payloads (decode behind the
    * [[MediaDecoder]] seam, like decodeMeta): each payload expands to
    * its frame-index sequence and
    * every `stride`-th frame is emitted with a per-frame digest — the
    * input row fans out to frames inside the same task, no shuffle, so
    * a 100 TB video corpus samples at scan speed. A real codec would
    * replace the digest with the decoded frame tensor; frame count
    * here derives deterministically from the payload size.
    */
  def frameSample(docs: DataFrame, stride: Int = 10): DataFrame =
    decodeMeta(docs)
      .select(col("doc_id"), col("checksum"),
        explode(expr("sequence(0, CAST(byte_len / 100 AS INT))")).as("frame_idx"))
      .filter(col("frame_idx") % stride === 0)
      // LCG-style mix as the per-frame digest: wrapping 64-bit
      // arithmetic both engines express exactly (HUGEINT mod-2⁶⁴ on
      // the oracle side), so the sampling plumbing is hash-verified;
      // a real codec replaces the digest with the decoded frame tensor
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        (col("checksum") * lit(2862933555777941757L) + col("frame_idx"))
          .as("frame_digest"))

  /** Keyframe selection over the sampled frame stream: top-`k` frames
    * per video by a per-frame score, earliest-frame tiebreak — the
    * vision-LM training-data stage that cuts a video to its most
    * informative stills before captioning/embedding. The score here is
    * derived from the stub frame digest (floor-mod 2²⁰ — since 2²⁰
    * divides 2⁶⁴, the signed and unsigned views agree, so the oracle
    * replays it on the HUGEINT side); a codec-backed deployment swaps
    * in a real saliency/sharpness score and the ranking plumbing —
    * per-video bounded window over the in-task frame fan-out — is
    * unchanged.
    */
  def keyframes(docs: DataFrame, stride: Int = 2, k: Int = 3): DataFrame = {
    val m = 1048576L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("frame_idx"))
    frameSample(docs, stride)
      .withColumn("score",
        ((col("frame_digest") % m) + m) % m)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("frame_idx"), col("score"))
  }

  /** Shot segmentation over the sampled frame stream: a CUT lands
    * between consecutive sampled frames whose score delta exceeds
    * `threshold` (half the 2²⁰ score range by default); shots are the
    * running cut count. One row per video: frames sampled, cuts,
    * shots, the longest shot and the first cut position (−1 when the
    * video is one shot) — the shot-boundary telemetry a frame sampler
    * consumes to sample per-shot instead of per-stride, and the
    * pre-captioning segmentation stage of a video-curation pipeline.
    * The stub digest score stands in for a real frame-difference
    * energy (the same swap seam as [[keyframes]]); every output column
    * is an exact integer, the lag/running-sum windows share one
    * per-video partition over the in-task frame fan-out, and the
    * aggregates are keyed on doc_id — one scan, no unbounded state,
    * scan-speed at any corpus size.
    */
  def sceneCuts(docs: DataFrame, stride: Int = 2,
                threshold: Long = 524288L): DataFrame = {
    val m = 1048576L
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    val scored = frameSample(docs, stride)
      .withColumn("score", ((col("frame_digest") % m) + m) % m)
      .withColumn("prev", lag("score", 1).over(w))
      .withColumn("cut", when(col("prev").isNotNull &&
        abs(col("score") - col("prev")) > threshold, 1L).otherwise(0L))
      .withColumn("shot", sum("cut").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val longest = scored.groupBy(col("doc_id"), col("shot"))
      .agg(count(lit(1)).as("slen"))
      .groupBy("doc_id").agg(max("slen").as("longest_shot"))
    scored.groupBy("doc_id").agg(
        count(lit(1)).as("n_frames"), sum("cut").as("n_cuts"),
        min(when(col("cut") === 1L, col("frame_idx"))).as("fc"))
      .join(longest, "doc_id")
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        (col("n_cuts") + lit(1L)).as("n_shots"), col("longest_shot"),
        coalesce(col("fc"), lit(-1L)).as("first_cut"))
  }

  /** REAL frame sampling over video payloads through a [[FrameDecoder]]
    * (default [[JvmMediaDecoder]]: AVI/MJPEG frames decoded via JDK
    * ImageIO; stills pass through as one-frame videos): every
    * `stride`-th decoded frame is emitted with its aHash and saliency
    * score. Same scale shape as the stub path — the payload fans out
    * to frames INSIDE its task (decoderInit once per partition, frames
    * iterated lazily), no shuffle, so a 100 TB video corpus samples at
    * scan speed. Not oracle-gated (DuckDB cannot replay a JPEG
    * decoder); pinned by VideoDecoderSpec's golden AVI instead.
    * Input: (doc_id, payload binary).
    */
  def frameSampleDecoded(docs: DataFrame,
                         decoder: FrameDecoder = JvmMediaDecoder,
                         stride: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        decoder.decoderInit()
        rows.flatMap { case (id, payload) =>
          decoder.frames(payload).zipWithIndex.collect {
            case (f, i) if i % stride == 0 =>
              (id, i.toLong, decoder.phash(f), decoder.frameScore(f))
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_phash", "score")
  }

  /** Keyframe selection over [[frameSampleDecoded]]'s REAL frame
    * stream: top-`k` frames per video by decoded saliency (8×8
    * luma-grid variance), earliest-frame tiebreak — the codec-backed
    * twin of [[keyframes]] with the identical ranking plumbing.
    */
  def keyframesDecoded(docs: DataFrame,
                       decoder: FrameDecoder = JvmMediaDecoder,
                       stride: Int = 2, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("frame_idx"))
    frameSampleDecoded(docs, decoder, stride)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("frame_idx"), col("score"),
        col("frame_phash"))
  }

  /** Resize planning over decoded metadata: aspect-preserving fit into
    * `maxDim`×`maxDim` (integer floor arithmetic — deterministic). A
    * codec-backed implementation would consume these target dims; the
    * planning math and column plumbing are the real pipeline stage.
    * Images already inside the box pass through untouched.
    */
  def resizePlan(meta: DataFrame, maxDim: Int = 256): DataFrame = {
    val scaleNum = lit(maxDim)
    val longest = greatest(col("width"), col("height"))
    val needs = longest > maxDim
    meta.select(col("doc_id"), col("format"), col("width"), col("height"),
      when(needs, (col("width") * scaleNum / longest).cast("int"))
        .otherwise(col("width")).as("out_width"),
      when(needs, (col("height") * scaleNum / longest).cast("int"))
        .otherwise(col("height")).as("out_height"),
      needs.cast("int").as("resized"))
  }

  /** Perceptual-hash near-duplicate pairs over the media corpus — the
    * multimodal leg of dedup: decode → 64-bit aHash in the same
    * per-partition batch pass as [[decodeMeta]], then pair by the
    * pigeonhole block join (hamming ≤ 3 over 4 disjoint 16-bit blocks
    * forces at least one identical block — the SimHash banding argument,
    * Dedup.scala:253), verified with an exact codegen'd
    * `bit_count(xor)`. The only shuffle is the block-bucket join;
    * all-pairs never materializes.
    */
  def phashPairs(docs: DataFrame, maxDist: Int = 3,
                 decoder: MediaDecoder = MediaDecoder.Stub): DataFrame =
    phashPairsBinary(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")),
      maxDist, decoder)

  /** Binary-column twin of [[phashPairs]] (see [[decodeMetaBinary]]).
    * Input: (doc_id, payload).
    */
  def phashPairsBinary(docs: DataFrame, maxDist: Int = 3,
                       decoder: MediaDecoder = MediaDecoder.Stub): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        decoder.decoderInit()
        it.map { case (id, p) => (id, decoder.phash(p)) }
      }
      .toDF("doc_id", "phash")
    val blocks = hashed.select(col("doc_id"), col("phash"),
      explode(expr(
        "transform(sequence(0, 3), i -> struct(i AS blk, " +
          "shiftright(phash, i * 16) & 65535 AS bval))")).as("e"))
      .select(col("doc_id"), col("phash"),
        col("e.blk").as("blk"), col("e.bval").as("bval"))
    // tiled pigeonhole enumeration (Dedup.bucketPairs), not a
    // (blk, bval) self-equijoin: a block value shared by a large
    // same-image family (re-encodes of one logo/frame — different
    // bytes, same aHash blocks) is ONE join key, serializing |bucket|²
    // onto a single task (the r10 mega-group class). The phash rides
    // the pay column so the exact hamming verify needs no n-row join.
    // long bkey: blk ∈ [0,3], bval ∈ [0,65535] pack bijectively into
    // (blk << 16) | bval — same buckets, 8-byte keys on the exchange
    graft.operators.Dedup.bucketPairs(blocks.select(
        (col("blk").cast("long") * 65536L + col("bval")).as("bkey"),
        col("doc_id").as("id"), col("phash").as("pay")))
      .select(col("id1").as("doc1"), col("id2").as("doc2"),
        bit_count(col("pay1").bitwiseXOR(col("pay2"))).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
      .orderBy("doc1", "doc2")
  }

  /** Downstream typed-metadata aggregation (the shape a curation pipeline
    * runs after decode): per format, count + size stats.
    */
  def formatStats(meta: DataFrame): DataFrame =
    meta.groupBy("format")
      .agg(count(lit(1)).as("n"),
        sum("byte_len").as("total_bytes"),
        graft.Num.r4(avg(col("width").cast("double"))).as("mean_width"))
      .orderBy("format")

  /** Aspect-ratio mix per format — the pre-training telemetry behind
    * bucketed-resolution batching (images are grouped into aspect
    * buckets so a batch shares one canvas): integer milli-ratio
    * width·1000 div height, three standard buckets, share within
    * format. Pure integer arithmetic on the decoded metadata — one
    * aggregate over the meta frame, |formats|×3 output rows.
    */
  def aspectHist(meta: DataFrame): DataFrame = {
    val ratioM = expr("CAST(width AS BIGINT) * 1000 div height")
    val bucket = when(ratioM < 900L, "portrait")
      .when(ratioM <= 1111L, "square")
      .otherwise("landscape")
    meta.withColumn("aspect", bucket)
      .groupBy("format", "aspect")
      .agg(count(lit(1)).as("n"))
      .withColumn("share", graft.Num.r4(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("format")).cast("double")))
      .orderBy("format", "aspect")
  }

  /** Deterministic synthetic PCM16 samples for a doc: sample k is the
    * LCG mix (csu·A + k) mod 2¹⁶ − 32768 — wrapping 64-bit arithmetic
    * both engines express exactly (2¹⁶ divides 2⁶⁴, so the signed and
    * unsigned views agree; the HUGEINT replay is the mm_scene_cuts
    * pattern). One sample per payload byte.
    */
  private def synthSamples(blen: Long, csu: Long): Array[Short] = {
    // clamp, never wrap: a declared length beyond Int.MaxValue would
    // turn blen.toInt negative (NegativeArraySizeException — a throw
    // the degrades-never-throws decode contract forbids). Int.MaxValue
    // PCM16 samples is already past the RIFF container's own u32 data-
    // chunk ceiling, so no representable WAV is truncated by the clamp;
    // negative declared lengths synthesize an empty clip (r10 ADVICE).
    val n = math.min(math.max(blen, 0L), Int.MaxValue.toLong).toInt
    val out = new Array[Short](n)
    var k = 0
    while (k < n) {
      val du = csu * 2862933555777941757L + k
      out(k) = (java.lang.Math.floorMod(du, 65536L) - 32768L).toShort
      k += 1
    }
    out
  }

  /** Per-doc synthetic sample rate ∈ {8000, 16000, 24000, 32000}:
    * 4 divides 2⁶⁴, so signed floorMod matches the oracle's unsigned
    * HUGEINT mod.
    */
  private def synthRate(csu: Long): Int =
    8000 * (1 + java.lang.Math.floorMod(csu, 4L).toInt)

  /** Audio header telemetry through the REAL RIFF/WAVE writer+parser
    * roundtrip on the HASHED path: per doc, a PCM16 WAV whose samples
    * and sample rate derive from the payload's byte fold (the Stub
    * metadata convention), written by [[MediaSynth.wavPcm16]] and
    * parsed back by [[AudioCodec]] — the oracle replays only the fold
    * arithmetic, so a wrong header offset, endianness slip or dropped
    * pad byte breaks the gate (the mm_mp4_meta contract, audio leg).
    * One typed scan, no shuffle; payloads fan out and die in-task.
    */
  def wavMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    decodeMeta(docs)
      .select(col("doc_id"), col("byte_len"), col("checksum"))
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, blen, csu) =>
          val wav = MediaSynth.wavPcm16(synthRate(csu), synthSamples(blen, csu))
          val m = AudioCodec.wavMeta(wav).get // our own writer: total
          (id, m.sampleRate.toLong, m.channels.toLong, m.bitsPerSample.toLong,
            m.nSamples, m.nSamples * 1000L / m.sampleRate)
        }
      }
      .toDF("doc_id", "sample_rate", "channels", "bits", "n_samples",
        "duration_ms")
  }

  /** Frame-energy telemetry over the PARSED sample stream (frames of
    * `frameLen` samples, energy = Σ|s| — exact integers end-to-end):
    * per doc the frame count, total energy, and the peak frame
    * (earliest on ties) — the loudness profile an audio-curation
    * pipeline gates on (silence/clipping detection, segment pick for
    * captioning). The samples cross the real writer→parser seam, so
    * the energies certify byte-exact PCM decode, not just header
    * walking; a real audio library swaps in at [[AudioCodec]] and the
    * frame/aggregation plumbing is unchanged. One typed scan, no
    * shuffle, O(1) task state per doc beyond the payload.
    */
  def audioFrameEnergy(docs: DataFrame, frameLen: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    decodeMeta(docs)
      .select(col("doc_id"), col("byte_len"), col("checksum"))
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, blen, csu) =>
          if (blen <= 0L) Iterator.empty
          else {
            val wav = MediaSynth.wavPcm16(synthRate(csu),
              synthSamples(blen, csu))
            val it = AudioCodec.samples(wav)
            var frame = 0L; var acc = 0L; var idx = 0L
            var total = 0L; var nFrames = 0L; var peakF = 0L; var peakE = -1L
            while (it.hasNext) {
              val f = idx / frameLen
              if (f != frame) {
                if (acc > peakE) { peakE = acc; peakF = frame }
                total += acc; nFrames += 1; frame = f; acc = 0L
              }
              acc += math.abs(it.next().toLong)
              idx += 1
            }
            if (idx > 0) {
              if (acc > peakE) { peakE = acc; peakF = frame }
              total += acc; nFrames += 1
            }
            Iterator.single((id, nFrames, total, peakF, peakE))
          }
        }
      }
      .toDF("doc_id", "n_frames", "total_energy", "peak_frame",
        "peak_energy")
  }
}
