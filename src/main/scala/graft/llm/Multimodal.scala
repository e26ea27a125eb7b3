package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.functions.Fns
import graft.plans.Clones
import graft.queries.Q

/** Multimodal-column plumbing: image/audio/video as opaque binary
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The Spark-side machinery — schema, batch shape, partition-parallel
  * decode signature — is real and tested. The codec itself is STUBBED
  * (this container has no image/audio libraries): `decodeStub` derives a
  * deterministic fake feature vector from the bytes, so every pipeline
  * stage downstream of decode exercises realistic shapes. A real codec
  * (JNI/javacv) plugs into the `decodeWith` seam without touching any
  * caller — MultimodalSpec proves the swap-in with the JDK's own
  * `ImageIO` PNG codec over generated images.
  *
  * At 100 TB: binary payloads ride the same parquet row groups as
  * metadata; decode is `mapPartitions` (one codec init per partition,
  * not per row) — the Scala analog of `mapInPandas` batch processing.
  */
object Multimodal {

  /** Media row schema: the typed-metadata contract for opaque blobs. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true)))

  /** Build a media table from `documents`: the text bytes stand in for
    * an encoded payload; metadata is derived deterministically so tests
    * and oracles can check the plumbing end to end.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      concat(lit("image/fake-"), col("source")).as("media_type"),
      (octet_length(col("text")) % 640).cast("int").as("width"),
      ((col("doc_id") * 31) % 480).cast("int").as("height"),
      (octet_length(col("text")) % 16).cast("int").as("n_frames"))

  /** The codec SEAM: bytes → fixed-length feature vector through
    * mapPartitions, with `init` invoked ONCE PER PARTITION before the
    * first row — where a real codec pays library/context initialization
    * (JNI handle, decoder tables) exactly once, the Scala analog of
    * `mapInPandas` batch processing. The returned decoder runs per row.
    * [[decodeStub]] routes the deterministic fake through this seam;
    * MultimodalSpec proves the swap-in with a REAL pure-JVM image codec
    * (JDK `ImageIO` over generated PNGs) — no caller changes, no new
    * dependencies.
    */
  def decodeWith(media: DataFrame,
      init: () => Array[Byte] => Array[Double]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("features", ArrayType(DoubleType), nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("doc_id", "media").mapPartitions { rows =>
      val decode = init() // real codec initialization: once per partition
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
        Row(id, decode(bytes).toSeq)
      }
    }(encoder)
  }

  /** STUB decode: bytes → fixed-length feature vector. Deterministic
    * fake (per-byte rolling accumulation into `dim` buckets) standing in
    * for a real codec, run through the [[decodeWith]] seam.
    */
  def decodeStub(media: DataFrame, dim: Int = 8): DataFrame =
    decodeWith(media, () => bytes => {
      val acc = new Array[Double](dim)
      var i = 0
      while (i < bytes.length) {
        acc(i % dim) += (bytes(i) & 0xFF) / 255.0
        i += 1
      }
      acc
    })

  /** Frame sampling: keep every `stride`-th frame index of a clip. Pure
    * column expressions over the metadata — no decode needed to plan
    * which frames to fetch (the scan-pruning property that matters at
    * scale: sample THEN decode, never the reverse).
    */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.withColumn("sampled_frames",
      when(col("n_frames") > 0,
        sequence(lit(0), col("n_frames") - 1, lit(stride)))
        .otherwise(array().cast("array<int>")))

  /** Content-level perceptual hash per media row: the 64-bucket gradient
    * hash (see [[graft.functions.MediaPHash64]]) — image-aHash semantics
    * over the opaque payload. A pure map-side projection: signatures
    * never leave the scan stage, same shape as text SimHash (q55).
    */
  def perceptualHash(media: DataFrame): DataFrame =
    media.select(col("doc_id"), Fns.mediaPhash(col("media")).as("phash"))

  /** Content-level media near-dup pairs: band the 64-bit perceptual hash
    * into 4×16-bit chunks (pigeonhole catches ALL pairs with Hamming
    * distance <= 3; wider radii are candidate-recall-bounded exactly like
    * q34's SimHash banding, whose machinery this reuses), join on
    * (band, chunk) — id+signature exchange only, never payload bytes —
    * and certify with bit_count(xor). At 100 TB the payloads stay in
    * their parquet row groups; only 16-byte (id, sig) rows shuffle.
    */
  /** Banded perceptual-hash signature rows (doc_id, phash, band, chunk)
    * — the probe/index unit: 4×16-bit chunks of the payload hash, the
    * exact layout [[phashPairs]] self-joins and the streaming media
    * index persists (one near-identical-payload candidate = one shared
    * (band, chunk) key). phash == 0 rows are excluded as a SKEW GUARD,
    * not because they can't certify: besides under-64-byte payloads,
    * constant/blank media (a common real duplicate class) legitimately
    * hashes to 0, and the 0-hash value would form one degenerate bucket
    * whose self-join is quadratic in the class size. Zero-hash payloads
    * pair through the exact route instead — md5 equality inside
    * [[phashPairs]], [[graft.streaming.StreamingDedup.startExact]] in
    * the always-on pipeline (the index itself stays 0-free).
    */
  def phashBands(media: DataFrame): DataFrame =
    perceptualHash(media).filter(col("phash") =!= 0L)
      .select(col("doc_id"), col("phash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("phash"), b * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("band", "chunk")))

  /** Cross-batch media near-dup candidates: a NEW batch's banded
    * signatures probe a persisted corpus band index (the
    * `Dedup.incrementalCandidatesFromBands` shape for the media
    * modality) — one (band, chunk) equi-join, certification by
    * bit_count on the signatures already riding the rows; the corpus is
    * never re-hashed, per-batch cost is the batch's own bands.
    */
  def incrementalPhashCandidates(newBands: DataFrame, corpusBands: DataFrame,
      maxHamming: Int): DataFrame =
    newBands
      .select(col("doc_id").as("d_new"), col("phash").as("p_new"),
        col("band"), col("chunk"))
      .join(corpusBands.select(col("doc_id").as("d_old"),
        col("phash").as("p_old"), col("band"), col("chunk")),
        Seq("band", "chunk"))
      .filter(col("d_new") =!= col("d_old"))
      .select(col("d_new"), col("d_old"),
        bit_count(col("p_new").bitwiseXOR(col("p_old"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)

  def phashPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    val banded = phashBands(media)
    val a = banded.select(col("doc_id").as("d1"), col("phash").as("p1"),
      col("band"), col("chunk"))
    val c = banded.select(col("doc_id").as("d2"), col("phash").as("p2"),
      col("band"), col("chunk"))
    val bandedPairs = a.join(c, Seq("band", "chunk"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("p1").bitwiseXOR(col("p2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // phash == 0 rows (sub-grid OR constant/blank payloads) are kept out
    // of the banded join — the 0-hash value is one degenerate bucket
    // whose self-join is quadratic in the class size — and pair through
    // the EXACT route instead: md5-equality join, Hamming 0 by
    // definition (identical bytes). Join key is the content fingerprint,
    // so clone groups cost group-size², never class-size²; only
    // (doc_id, fp) rows shuffle, payloads stay in their row groups.
    val zeros = media
      .select(col("doc_id"), Fns.mediaPhash(col("media")).as("phash"),
        md5(col("media")).as("fp"))
      .filter(col("phash") === 0L)
    val zeroPairs = zeros.select(col("doc_id").as("d1"), col("fp"))
      .join(zeros.select(col("doc_id").as("d2"), col("fp")), Seq("fp"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(0).as("hamming"))
    bandedPairs.unionByName(zeroPairs)
      .orderBy(col("d1"), col("d2"))
  }

  /** Media table plus PLANTED near-identical payloads: every 20th doc
    * also appears (id + 1,000,000) as a position-preserving value
    * perturbation of its payload — the re-encode/noise transform class a
    * perceptual hash is built to absorb. Both engines derive the plant
    * from the same `translate`, so q131 is fully value-hash-checked.
    */
  val PlantIdOffset = 1000000L

  def mediaWithPlantedNearDups(docsDf: DataFrame): DataFrame =
    mediaTable(docsDf).select(col("doc_id"), col("media"))
      .unionByName(
        docsDf.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + PlantIdOffset).as("doc_id"),
            translate(col("text"), "aeiou", "bfjpv").cast("binary")
              .as("media")))

  /** Per-FRAME perceptual hashes of a clip payload: the byte stream is
    * cut into `n_frames` equal ranges (the q38 metadata convention:
    * n_frames = octet_length % 16) with the same integer-floor resample
    * rule as the bucket grid, and each range hashes on a coarse
    * 16-bucket grid (15 bits — frame segments are short). The frame cut
    * and the hash are both pure integer arithmetic, so the oracle
    * replays every frame hash from hex(blob). Map-side: one posexplode
    * per clip row, hashes leave the scan as (doc_id, f, fhash).
    */
  val FrameGrid = 16

  def frameHashes(media: DataFrame, grid: Int = FrameGrid): DataFrame =
    media
      .select(col("doc_id"), col("media"),
        octet_length(col("media")).cast("long").as("len"),
        (octet_length(col("media")) % 16).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("media"), col("len"), col("n"),
        explode(sequence(lit(0L), col("n") - 1)).as("f"))
      .withColumn("fs", floor(col("f") * col("len") / col("n")).cast("long"))
      .withColumn("fe",
        floor((col("f") + 1) * col("len") / col("n")).cast("long"))
      .select(col("doc_id"), col("f"),
        Fns.mediaPhash(
          expr("substring(media, CAST(fs + 1 AS INT), CAST(fe - fs AS INT))"),
          grid).as("fhash"))

  /** Clip-level near-dup pairs from frame-hash multiset overlap — the
    * video-dedup analog of q131: two clips are near-dups when at least
    * `minSim` of the larger clip's (non-degenerate) frame hashes match,
    * counted with multiset semantics (min of the two multiplicities per
    * hash). The join is the inverted-index shape on the 15-bit frame
    * hash: only (doc_id, fhash, count) rows shuffle — never payloads —
    * and per-pair work is bounded by frames-per-clip. Frames shorter
    * than the grid hash to 0 and are excluded as matchless.
    */
  def clipSimilarityPairs(media: DataFrame, minSim: Double,
      grid: Int = FrameGrid): DataFrame = {
    val hc = frameHashes(media, grid)
      .filter(col("fhash") =!= 0L)
      .groupBy(col("doc_id"), col("fhash")).agg(count(lit(1)).as("c"))
    val nf = hc.groupBy(col("doc_id")).agg(sum(col("c")).as("nf"))
    val a = hc.select(col("doc_id").as("d1"), col("fhash"), col("c").as("ca"))
    val b = hc.select(col("doc_id").as("d2"), col("fhash"), col("c").as("cb"))
    a.join(b, Seq("fhash"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(least(col("ca"), col("cb"))).as("inter"))
      .join(nf.select(col("doc_id").as("d1"), col("nf").as("na")), Seq("d1"))
      .join(nf.select(col("doc_id").as("d2"), col("nf").as("nb")), Seq("d2"))
      // threshold on the UNROUNDED ratio (integer-exact at the 0.5
      // boundary: p/q >= 0.5 iff 2p >= q), round only for output
      .filter(col("inter").cast("double")
        / greatest(col("na"), col("nb")) >= minSim)
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double")
          / greatest(col("na"), col("nb")), 4).as("sim"))
      .orderBy(col("d1"), col("d2"))
  }

  /** [[clipSimilarityPairs]] with EXACT-payload precollapse — the scale
    * path (q86's shape, for media): group payloads by content md5, run
    * the frame-hash join over one representative per group, then expand
    * group members back into pairs (cross-group pairs inherit the rep
    * similarity; within-group members are byte-identical, similarity
    * exactly 1.0, emitted only when the clip has >= 1 live frame —
    * matching the direct form, where frameless clips never join).
    * Rationale, measured at the 10x clone-heavy rehearsal: the direct
    * form pays Σ(group size)² inside the frame-hash join for every
    * exact-duplicate payload group (31.0 s, 433 MB shuffle, 1.07 GB
    * peak task memory at 10x); collapsing first removes the clone
    * factor from the join entirely and reconstructs the same answer
    * with one md5 aggregate + two member joins ([[graft.plans.Clones]]).
    * Same output contract — MultimodalSpec pins equality and q134 runs
    * under q132's oracle verbatim (the q74/q56 convention).
    */
  def clipSimilarityPairsPrecollapsed(media: DataFrame, minSim: Double,
      grid: Int = FrameGrid): DataFrame = {
    val c = Clones.collapse(media, "media")
    // groups whose clip has at least one live (non-degenerate) frame
    val live = frameHashes(c.reps, grid)
      .filter(col("fhash") =!= 0L)
      .select(col("doc_id").as("rep")).distinct()
      .select(col("rep"), lit(1.0).as("sim"))
    c.pairs(clipSimilarityPairs(c.reps, minSim, grid), live)
      .orderBy(col("d1"), col("d2"))
  }

  /** Shared oracle CTE: rebuild the gradient perceptual hash in SQL from
    * hex(blob) — byte i = '0x'||substr(hex, 2i+1, 2), bucket = i·64/len
    * integer division, mean compares as integer cross-multiplies. The
    * blob→hex route keeps the oracle byte-exact on ANY payload (no
    * ASCII assumption).
    */
  private def phashOracleCte(baseSql: String,
      recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}base AS ($baseSql),
      h AS (SELECT doc_id, hex(b) AS hx, octet_length(b) AS len FROM base),
      byv AS (SELECT doc_id, i,
                     CAST('0x' || substr(hx, 2*i+1, 2) AS BIGINT) AS v,
                     CAST((i * 64) // len AS INT) AS j
              FROM h, UNNEST(generate_series(0, len-1)) AS g(i)
              WHERE len >= 64),
      bk AS (SELECT doc_id, j, SUM(v) AS s, COUNT(*) AS c
             FROM byv GROUP BY doc_id, j),
      bits AS (SELECT a.doc_id, a.j AS jb,
                      CASE WHEN a.s * b.c < b.s * a.c THEN 1 ELSE 0 END AS bit
               FROM bk a JOIN bk b
                 ON a.doc_id = b.doc_id AND b.j = a.j + 1),
      ph0 AS (SELECT doc_id,
                     CAST(SUM(bit * (CAST(1 AS BIGINT) << jb)) AS BIGINT) AS phash
              FROM bits GROUP BY doc_id)"""

  def defs: Seq[Q] = Seq(
    // Metadata extraction over binary payloads — oracle-checked: the
    // byte-length/meta derivations are engine-agnostic arithmetic.
    Q("q38_multimodal_meta",
      (s, d) =>
        mediaTable(Tables.load(s, d, "documents"))
          .select(col("doc_id"), col("media_type"),
            octet_length(col("media")).cast("int").as("n_bytes"),
            col("width"), col("height"), col("n_frames"))
          .orderBy(col("doc_id"))
          .limit(200),
      Some("""SELECT doc_id,
                     'image/fake-' || source AS media_type,
                     CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
                     CAST(OCTET_LENGTH(ENCODE(text)) % 640 AS INT) AS width,
                     CAST((doc_id * 31) % 480 AS INT) AS height,
                     CAST(OCTET_LENGTH(ENCODE(text)) % 16 AS INT) AS n_frames
              FROM documents ORDER BY doc_id LIMIT 200""")),

    // Storage accounting + frame-sampling savings per media type: total
    // payload bytes per format and how many frames a stride-4 sampler
    // keeps (the decode-cost estimate you consult BEFORE launching the
    // decode stage). Exercises binary-column aggregation and the
    // sampleFrames operator under the value-hash oracle:
    // size(sequence(0, n-1, 4)) == ceil(n/4) for n > 0.
    Q("q63_media_storage",
      (s, d) => {
        val m = sampleFrames(mediaTable(Tables.load(s, d, "documents")), stride = 4)
        m.groupBy(col("media_type"))
          .agg(
            count(lit(1)).as("n_media"),
            sum(octet_length(col("media"))).as("total_bytes"),
            sum(col("n_frames")).cast("long").as("frames_total"),
            sum(size(col("sampled_frames"))).cast("long").as("frames_sampled"))
          .orderBy(col("media_type"))
      },
      Some("""WITH m AS (
                SELECT 'image/fake-' || source AS media_type,
                       OCTET_LENGTH(ENCODE(text)) AS n_bytes,
                       CAST(OCTET_LENGTH(ENCODE(text)) % 16 AS INT) AS n_frames
                FROM documents)
              SELECT media_type, COUNT(*) AS n_media,
                     CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
                     CAST(SUM(n_frames) AS BIGINT) AS frames_total,
                     CAST(SUM(CASE WHEN n_frames > 0
                                   THEN CAST(CEIL(n_frames / 4.0) AS INT)
                                   ELSE 0 END) AS BIGINT) AS frames_sampled
              FROM m GROUP BY 1 ORDER BY 1""")),

    // Per-payload perceptual hash, value-hash-checked: the oracle
    // rebuilds the 64-bucket gradient hash from hex(blob) with pure
    // integer ops, so every bit of every signature is pinned (the q55
    // convention for SimHash, now over the BINARY column). Payloads
    // under 64 bytes hash to 0 — the degenerate branch is in the output
    // (min doc length at sf0.01 is 48).
    Q("q130_media_phash",
      (s, d) =>
        perceptualHash(
          mediaTable(Tables.load(s, d, "documents"))
            .select(col("doc_id"), col("media")))
          .orderBy(col("doc_id"))
          .limit(200),
      Some(phashOracleCte(
        "SELECT doc_id, encode(text) AS b FROM documents") +
        """
        SELECT h.doc_id, CAST(COALESCE(p.phash, 0) AS BIGINT) AS phash
        FROM h LEFT JOIN ph0 p USING (doc_id)
        ORDER BY doc_id LIMIT 200""")),

    // CONTENT-level media near-dup discovery over planted re-encodes:
    // every 20th doc also appears as a value-perturbed copy of its
    // payload (different md5 — exact dedup can NOT pair them), and the
    // banded Hamming join must recover exactly the planted pairs.
    // Measured at sf0.01: all 25 plants at Hamming 0-1, zero
    // false-positive pairs (unrelated docs sit near Hamming 31).
    // Fully hash-checked: the oracle mirrors the same plant, the same
    // hash, the same band-candidate rule, and the same Hamming cap.
    Q("q131_media_neardup",
      (s, d) =>
        phashPairs(
          mediaWithPlantedNearDups(Tables.load(s, d, "documents")),
          maxHamming = 6),
      Some(phashOracleCte(
        """SELECT doc_id, encode(text) AS b FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
                  encode(translate(text, 'aeiou', 'bfjpv')) AS b
           FROM documents WHERE doc_id % 20 = 0""") +
        """,
        z AS (SELECT base.doc_id, base.b FROM base LEFT JOIN ph0 USING (doc_id)
              WHERE COALESCE(ph0.phash, 0) = 0)
        SELECT d1, d2, hamming FROM (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
          FROM ph0 a JOIN ph0 b ON a.doc_id < b.doc_id
          WHERE a.phash <> 0 AND b.phash <> 0
            AND ((a.phash & 65535) = (b.phash & 65535)
              OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
              OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
              OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535))
            AND bit_count(xor(a.phash, b.phash)) <= 6
          UNION ALL
          SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS INT) AS hamming
          FROM z a JOIN z b ON a.doc_id < b.doc_id AND a.b = b.b)
        ORDER BY d1, d2""")),

    // Media DEDUP GROUPS: connected components over the q131 pair graph
    // — the q56 pairs→clusters step for the binary modality, so a
    // curation run can keep one representative per near-identical
    // payload cluster. Same CC operator, recursive-CTE oracle over
    // the identical banded-Hamming pair rule.
    Q("q136_media_dedup_groups",
      (s, d) =>
        graft.llm.Dedup.connectedComponents(
          phashPairs(
            mediaWithPlantedNearDups(Tables.load(s, d, "documents")),
            maxHamming = 6).select(col("d1"), col("d2")))
          .select(col("node").as("doc_id"), col("comp"))
          .orderBy(col("doc_id")),
      Some(phashOracleCte(
        """SELECT doc_id, encode(text) AS b FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
                  encode(translate(text, 'aeiou', 'bfjpv')) AS b
           FROM documents WHERE doc_id % 20 = 0""", recursive = true) +
        """,
        z AS (SELECT base.doc_id, base.b FROM base LEFT JOIN ph0 USING (doc_id)
              WHERE COALESCE(ph0.phash, 0) = 0),
        prs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
                FROM ph0 a JOIN ph0 b ON a.doc_id < b.doc_id
                WHERE a.phash <> 0 AND b.phash <> 0
                  AND ((a.phash & 65535) = (b.phash & 65535)
                    OR ((a.phash >> 16) & 65535) = ((b.phash >> 16) & 65535)
                    OR ((a.phash >> 32) & 65535) = ((b.phash >> 32) & 65535)
                    OR ((a.phash >> 48) & 65535) = ((b.phash >> 48) & 65535))
                  AND bit_count(xor(a.phash, b.phash)) <= 6
                UNION ALL
                SELECT a.doc_id AS d1, b.doc_id AS d2
                FROM z a JOIN z b ON a.doc_id < b.doc_id AND a.b = b.b),
        edges AS (SELECT d1 AS src, d2 AS dst FROM prs
                  UNION ALL SELECT d2, d1 FROM prs),
        reach AS (
          SELECT src AS node, src AS label FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS comp
        FROM reach GROUP BY node ORDER BY doc_id""")),

    // CLIP-level near-dup discovery (the video-dedup analog): per-frame
    // 16-bucket perceptual hashes, clips paired by frame-hash multiset
    // overlap >= 0.5 of the larger clip. Same plant as q131 — the
    // value-perturbed twin preserves length, hence frame boundaries, so
    // most of its frame hashes survive; measured at sf0.01: 22 of the
    // 25 plants recovered (the rest sit under the threshold — tiny
    // frames flip more gradient bits), 1 genuine non-plant discovery,
    // all fully hash-checked since the oracle replays every frame cut
    // and hash bit from hex(blob).
    Q("q132_clip_neardup",
      (s, d) =>
        clipSimilarityPairs(
          mediaWithPlantedNearDups(Tables.load(s, d, "documents")),
          minSim = 0.5),
      Some(clipNeardupOracle)),

    // The SAME clip near-dup answer through exact-payload precollapse —
    // the scale path (q86's fix, for media): the 10x clone rehearsal
    // measured the direct form at 31.0 s / 433 MB shuffle / 1.07 GB
    // peak task memory (Σ group² inside the frame-hash join); the
    // precollapsed form removes the clone factor before the join and
    // reconstructs members afterwards. Runs under q132's oracle
    // VERBATIM (the q74/q56 convention: one contract, two plans, both
    // value-hash-checked).
    Q("q134_clip_neardup_precollapse",
      (s, d) =>
        clipSimilarityPairsPrecollapsed(
          mediaWithPlantedNearDups(Tables.load(s, d, "documents")),
          minSim = 0.5),
      Some(clipNeardupOracle))
  )

  private val clipNeardupOracle: String = """WITH base AS (
                SELECT doc_id, encode(text) AS b FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id,
                       encode(translate(text, 'aeiou', 'bfjpv')) AS b
                FROM documents WHERE doc_id % 20 = 0),
              h AS (SELECT doc_id, hex(b) AS hx, octet_length(b) AS len,
                           octet_length(b) % 16 AS n FROM base),
              fr AS (SELECT doc_id, f,
                            (f * len) // n AS fs, ((f+1) * len) // n AS fe
                     FROM h, UNNEST(generate_series(0, n-1)) AS g(f)
                     WHERE n > 0),
              byv AS (SELECT doc_id, f, i,
                             CAST('0x' || substr(hx, 2*(fs+i)+1, 2) AS BIGINT) AS v,
                             CAST((i * 16) // (fe - fs) AS INT) AS j
                      FROM fr JOIN h USING (doc_id),
                           UNNEST(generate_series(0, fe-fs-1)) AS g(i)
                      WHERE fe - fs >= 16),
              bk AS (SELECT doc_id, f, j, SUM(v) AS s, COUNT(*) AS c
                     FROM byv GROUP BY 1, 2, 3),
              bits AS (SELECT a.doc_id, a.f, a.j AS jb,
                              CASE WHEN a.s * b.c < b.s * a.c
                                   THEN 1 ELSE 0 END AS bit
                       FROM bk a JOIN bk b
                         ON a.doc_id = b.doc_id AND a.f = b.f
                        AND b.j = a.j + 1),
              fh AS (SELECT doc_id, f,
                            CAST(SUM(bit * (CAST(1 AS BIGINT) << jb)) AS BIGINT) AS fhash
                     FROM bits GROUP BY 1, 2),
              hc AS (SELECT doc_id, fhash, COUNT(*) AS c
                     FROM fh WHERE fhash <> 0 GROUP BY 1, 2),
              nf AS (SELECT doc_id, SUM(c) AS nf FROM hc GROUP BY 1),
              ov AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                            SUM(LEAST(a.c, b.c)) AS inter
                     FROM hc a JOIN hc b
                       ON a.fhash = b.fhash AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
              SELECT d1, d2,
                     ROUND(CAST(inter AS DOUBLE) / GREATEST(na.nf, nb.nf), 4) AS sim
              FROM ov JOIN nf na ON na.doc_id = d1
                      JOIN nf nb ON nb.doc_id = d2
              WHERE CAST(inter AS DOUBLE) / GREATEST(na.nf, nb.nf) >= 0.5
              ORDER BY d1, d2"""
}
