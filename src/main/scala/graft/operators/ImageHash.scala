package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Parallel, Pin, Tables}

/** PERCEPTUAL image near-duplication (VERDICT r11 #4) — extends the
  * dedup family to the multimodal column, which previously had
  * exact-byte dedup only. Two classic integer perceptual hashes over
  * REAL decoded pixels ([[Multimodal.decodeImage]]'s `javax.imageio`
  * path, no native deps):
  *
  *  - dHash (difference hash, 56 bits): box-mean the image to an
  *    8×8 luma grid, bit (r,c) = g(r,c) < g(r,c+1) for c < 7.
  *    Invariant under global brightness shifts and any resize whose
  *    boxes average the same content.
  *  - aHash (average hash, 64 bits): bit (r,c) = g(r,c) > ⌊mean g⌋.
  *
  * Everything is INTEGER-EXACT end to end: luma is the millis
  * formula ⌊(299r+587g+114b)/1000⌋ (equals the channel value exactly
  * on gray pixels), grid cells are ⌊Σbox/|box|⌋, and the hash is a
  * sum of distinct powers of two — so the hashes are engine-portable
  * and the WHOLE pipeline is oracle-checkable: the q154 fixture
  * renders each document's image from a pure integer pixel formula,
  * encodes it through a REAL lossless codec (PNG; BMP for the
  * re-encoded variant), decodes it back through `ImageIO`, and
  * hashes the decoded pixels — while DuckDB predicts the same hashes
  * straight from the formula. A hash mismatch means the render →
  * encode → decode → hash path broke, which is exactly what the
  * oracle is for.
  *
  * Scale shape: one hash row (16 bytes) per image — the candidate
  * join is the [[SimHash]] pigeonhole banding on 14-bit chunks
  * (Hamming ≤ 3 ⇒ some chunk of 4 equal — EXACT, no probabilistic
  * misses), verified with codegen'd `bit_count(xor)`; images
  * themselves never join. Decode runs per-partition
  * ([[Multimodal]]'s batching contract).
  */
object ImageHash {

  // ImageIO's default stream cache is a TEMP FILE per encode/decode —
  // under a 32-way per-partition fan that is one filesystem
  // create+write+delete per image, serialized on the tmp dir. All
  // graft payloads are in-memory byte arrays, so the heap cache is
  // strictly better (JVM-global; also set by Multimodal for the
  // decode-first paths).
  javax.imageio.ImageIO.setUseCache(false)

  val gridSide = 8
  val dBits: Int = gridSide * (gridSide - 1) // 56
  val chunks = 4 // 14-bit bands; supports Hamming ≤ chunks − 1
  val bandBits: Int = dBits / chunks // 14
  val bandMask: Long = (1L << bandBits) - 1

  /** HOT-BAND frequency cap (r12 verdict #1): a (chunk, chunk_val)
    * band shared by more signatures than this is dropped from the
    * candidate self-join. Within one band the join is quadratic in
    * band population, and real corpora have DEGENERATE bands —
    * near-uniform images (solid backgrounds, black frames), silence
    * in audio — where millions of media collapse onto identical
    * dHash chunks and the self-join explodes. A band this populous is
    * boilerplate media with no near-dup signal (the q122
    * `maxFpDomains` / q133 cap-first argument on the media modality),
    * so the cap bounds candidate rows at chunks·cap·|sig| while
    * changing nothing on contentful corpora: LCG-style content puts
    * ~|sig|/2^14 signatures per band (measured max 15/25/8 per band
    * at sf0.1 on the image/audio/video fixtures). The constant is
    * mirrored into every pair oracle ([[pairCtesSql]]) so the
    * predicate stays engine-shared at any population.
    */
  val defaultMaxBandPop = 1024

  /** Integer luma grid: decode, millis-luma each pixel, box-mean to
    * `gridSide`². Returns null for undecodable payloads or
    * dimensions not divisible by the grid (the 100 TB path resamples
    * first; this keeps the integer-exactness contract instead of
    * interpolating).
    */
  def lumaGrid(payload: Array[Byte]): Array[Int] = {
    if (payload == null || payload.isEmpty) return null
    // NonFatal, not just IOException: corrupt payloads can throw
    // RuntimeExceptions from plugin decoders (IndexOutOfBounds,
    // CMMException) and the null-for-undecodable contract must hold
    // for those too — one bad blob must not kill the stage (r12
    // advice)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    if (w % gridSide != 0 || h % gridSide != 0) return null
    val bw = w / gridSide
    val bh = h / gridSide
    val g = new Array[Int](gridSide * gridSide)
    var r = 0
    while (r < gridSide) {
      var c = 0
      while (c < gridSide) {
        var sum = 0L
        var y = r * bh
        while (y < (r + 1) * bh) {
          var x = c * bw
          while (x < (c + 1) * bw) {
            val argb = img.getRGB(x, y)
            val lum = (299L * ((argb >>> 16) & 0xff) +
              587L * ((argb >>> 8) & 0xff) + 114L * (argb & 0xff)) / 1000L
            sum += lum
            x += 1
          }
          y += 1
        }
        g(r * gridSide + c) = (sum / (bw.toLong * bh)).toInt
        c += 1
      }
      r += 1
    }
    g
  }

  /** 56-bit difference hash of a luma grid: bit r·7+c set iff
    * g(r,c) < g(r,c+1).
    */
  def dHash(g: Array[Int]): Long = {
    var h = 0L
    var r = 0
    while (r < gridSide) {
      var c = 0
      while (c < gridSide - 1) {
        if (g(r * gridSide + c) < g(r * gridSide + c + 1))
          h |= 1L << (r * (gridSide - 1) + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** 64-bit average hash: bit r·8+c set iff g(r,c) > ⌊mean g⌋. */
  def aHash(g: Array[Int]): Long = {
    var sum = 0L
    g.foreach(sum += _)
    val mean = sum / (gridSide * gridSide)
    var h = 0L
    var i = 0
    while (i < g.length) {
      if (g(i) > mean) h |= 1L << ((i / gridSide) * gridSide + (i % gridSide))
      i += 1
    }
    h
  }

  /** (media_id, dhash, ahash) signatures over a media frame with
    * `(media_id, payload)`; undecodable/ungridable payloads drop.
    */
  def signatures(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    Parallel.fan(media).select($"media_id", $"payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val g = lumaGrid(bytes)
        if (g == null) Iterator.empty
        else Iterator.single((id, dHash(g), aHash(g)))
      })
      .toDF("media_id", "dhash", "ahash")
  }

  /** Near-dup image pairs with dHash Hamming ≤ `maxHamming`
    * (< chunks), annotated with the aHash Hamming of the same pair:
    * (media_a, media_b, hamming, a_hamming). Candidates from the
    * 14-bit pigeonhole bands — exact for the supported thresholds —
    * verified by `bit_count(xor)`.
    */
  def nearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    pairsFromSignatures(signatures(media), maxHamming)

  /** One row per (signature, pigeonhole band): `(media_id, dhash,
    * ahash, chunk, chunk_val)` — the shared banding of the pair
    * self-join, the ingest gate, and the band-bucketed serving
    * layout.
    */
  def bandedSignatures(sig: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    sig.select($"media_id", $"dhash", $"ahash",
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("chunk_val",
        expr(s"shiftrightunsigned(dhash, chunk * $bandBits)")
          .bitwiseAND(lit(bandMask)))
  }

  /** The (chunk, chunk_val) bands whose population exceeds the cap —
    * always a SMALL frame (each hot band collapses to one row), so
    * the exclusion is a broadcast anti-join: hot rows drop map-side
    * and never reach the candidate shuffle (the q147 HOT-set device).
    */
  def hotBands(sig: DataFrame, maxBandPop: Int = defaultMaxBandPop): DataFrame =
    bandedSignatures(sig)
      .groupBy(col("chunk"), col("chunk_val"))
      .agg(count(lit(1)).as("band_pop"))
      .filter(col("band_pop") > maxBandPop)

  /** The candidate rows of the banded self-join AFTER the hot-band
    * cap, NON-distinct (one row per shared kept band) — split out so
    * the uniform-media spec can bound join volume directly: total
    * candidates ≤ chunks·maxBandPop·|sig| by construction. The
    * signature frame pins once ([[Pin.reuse]]) — it feeds the
    * population count and both join sides, and without the pin a
    * self-join over a decode subtree would re-decode the media per
    * branch.
    */
  def bandPairCandidates(sig: DataFrame,
      maxBandPop: Int = defaultMaxBandPop): DataFrame = {
    import sig.sparkSession.implicits._
    val s = Pin.reuse(sig)
    val kept = bandedSignatures(s)
      .join(broadcast(hotBands(s, maxBandPop)
          .select(col("chunk"), col("chunk_val"))),
        Seq("chunk", "chunk_val"), "left_anti")
    kept.as("a").join(kept.as("b"),
        $"a.chunk" === $"b.chunk" && $"a.chunk_val" === $"b.chunk_val" &&
          $"a.media_id" < $"b.media_id")
      .select($"a.media_id".as("media_a"), $"b.media_id".as("media_b"),
        bit_count($"a.dhash".bitwiseXOR($"b.dhash")).as("hamming"),
        bit_count($"a.ahash".bitwiseXOR($"b.ahash")).as("a_hamming"))
  }

  /** The banded join over an existing `(media_id, dhash, ahash)`
    * signature frame — split out so the recall spec can plant
    * signatures at every Hamming distance and prove the pigeonhole
    * candidate set is EXACT (≤ maxHamming always banded together;
    * > maxHamming filtered by the verify). Exactness holds for every
    * pair that shares at least one band UNDER the hot-band cap
    * ([[defaultMaxBandPop]]) — pairs whose every shared band is hot
    * are dropped by design (boilerplate media; the oracle applies the
    * identical cap, [[pairCtesSql]]).
    */
  def pairsFromSignatures(sig: DataFrame, maxHamming: Int = 3,
      maxBandPop: Int = defaultMaxBandPop): DataFrame = {
    require(maxHamming < chunks, s"banding supports Hamming < $chunks")
    import sig.sparkSession.implicits._
    bandPairCandidates(sig, maxBandPop)
      .distinct() // pairs sharing >1 chunk appear once
      .filter($"hamming" <= maxHamming)
  }

  /** INGEST-TIME NEAR-DUP GATE — the asymmetric form of
    * [[pairsFromSignatures]]: a small probe batch (media arriving
    * through ingest) checked against the big standing signature
    * index BEFORE admission. Same 14-bit pigeonhole bands (exact for
    * Hamming ≤ maxHamming < chunks), but the probe side BROADCASTS:
    * the corpus index never shuffles and never self-joins — the scan
    * plus a map-side hash probe is the whole cost, which is the only
    * shape that works when the index is 10^9 signatures and the
    * batch is 10^4. Returns (probe_id, media_id, hamming,
    * a_hamming); probes with no row are novel and safe to admit.
    */
  def nearDupGate(corpusSig: DataFrame, probeSig: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < chunks, s"banding supports Hamming < $chunks")
    import corpusSig.sparkSession.implicits._
    bandedSignatures(corpusSig).as("c")
      .join(broadcast(bandedSignatures(probeSig).as("p")),
        $"c.chunk" === $"p.chunk" && $"c.chunk_val" === $"p.chunk_val")
      .select($"p.media_id".as("probe_id"), $"c.media_id".as("media_id"),
        bit_count($"c.dhash".bitwiseXOR($"p.dhash")).as("hamming"),
        bit_count($"c.ahash".bitwiseXOR($"p.ahash")).as("a_hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  // ---- q154 fixture: rendered images with planted near-dups --------

  /** Deterministic pixel luma at native (16×16) resolution — the
    * formula BOTH engines evaluate (Spark renders pixels from it;
    * DuckDB predicts grid cells from it). Two Lehmer LCG steps
    * scramble the (id, x, y) seed (the engine-portable mixing device
    * from the URL-fingerprint family) with a SQUARING step in the
    * middle: a purely affine scramble shifts every pixel of doc d+k
    * by the same constant relative to doc d, and dHash is (by
    * design) invariant under constant shifts — an affine draft
    * emitted 321k cross-doc pairs at sf0.1 where squaring leaves the
    * planted copies as essentially the only pairs. All terms
    * non-negative, products < 2^62, so `%` and the arithmetic are
    * exact and identical across engines.
    */
  def lumaAt(id: Long, x: Int, y: Int): Int = {
    val s1 = (id * 1000003L + x * 8191L + y * 131071L + 1L) % 2147483647L
    val s2 = (s1 * s1) % 2147483647L
    val s3 = (s2 * 48271L) % 2147483647L
    (s3 % 256L).toInt
  }

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** Render doc `id`'s image at `scale`× (nearest-neighbor upscale of
    * the 16×16 base — a 2× image's 4-pixel boxes average EXACTLY the
    * base's 2-pixel boxes, so its grid, and hence both hashes, match
    * the base bit-for-bit) in a REAL lossless container (`png` or
    * `bmp`; gray pixels r=g=b so the sRGB round-trip is exact).
    */
  def render(id: Long, scale: Int, format: String): Array[Byte] = {
    val w = 16 * scale
    val img = new BufferedImage(w, w, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < w) {
      var x = 0
      while (x < w) {
        val l = lumaAt(id, x / scale, y / scale)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    encode(img, format)
  }

  /** The q154 media table: one base PNG per doc (media_id = 10·doc),
    * a 2×-RESIZED PNG copy for every 17th doc (10·doc+1), and a
    * RE-ENCODED BMP copy (same pixels, different container) for
    * every 29th doc (10·doc+2) — the two classic perceptual-dup
    * classes exact-byte dedup misses.
    */
  def syntheticMedia(docs: DataFrame, resizeMod: Long = 17L,
      reencodeMod: Long = 29L): DataFrame = {
    import docs.sparkSession.implicits._
    Parallel.fan(docs).select($"doc_id").as[Long]
      .mapPartitions(_.flatMap { id =>
        val base = Iterator.single((id * 10L, render(id, 1, "png"), "image/png"))
        val resized = if (id % resizeMod == 0)
          Iterator.single((id * 10L + 1L, render(id, 2, "png"), "image/png"))
        else Iterator.empty
        val reenc = if (id % reencodeMod == 0)
          Iterator.single((id * 10L + 2L, render(id, 1, "bmp"), "image/bmp"))
        else Iterator.empty
        base ++ resized ++ reenc
      })
      .toDF("media_id", "payload", "media_type")
  }

  /** Q154 — perceptual image near-dup over the rendered corpus:
    * every planted resized and re-encoded copy must pair with its
    * base at Hamming 0 THROUGH the real encode → decode → hash →
    * banded-join path; any further pairs are formula near-collisions
    * both engines derive identically.
    */
  def q154ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    nearDupPairs(syntheticMedia(docs))
      .orderBy($"media_a", $"media_b")
  }

  /** The banded pair join as SQL CTEs over a prior CTE
    * `s(media_id, dhash, ahash)`, mirroring [[pairsFromSignatures]]
    * INCLUDING the hot-band cap — the oracle evaluates the same
    * banding, the same population predicate, and the same Hamming
    * verify, so engine agreement holds at ANY band population, not
    * just fixtures where no band is hot. Ends in
    * `pr(media_a, media_b, hamming, a_hamming)`. Shared by the
    * q154/q155/q158 pair oracles and the q156 cluster oracle.
    */
  def pairCtesSql(maxHamming: Int = 3,
      maxBandPop: Int = defaultMaxBandPop): String =
    s""" bd AS (SELECT media_id, dhash, ahash, ch.chunk,
       |     (dhash >> (ch.chunk * $bandBits)) & $bandMask AS cv
       |   FROM s, range($chunks) ch(chunk)),
       | hotb AS (SELECT chunk, cv FROM bd
       |   GROUP BY chunk, cv HAVING count(*) > $maxBandPop),
       | kp AS (SELECT bd.* FROM bd ANTI JOIN hotb USING (chunk, cv)),
       | pr AS (SELECT DISTINCT a.media_id AS media_a,
       |     b.media_id AS media_b,
       |     bit_count(xor(a.dhash, b.dhash))::INT AS hamming,
       |     bit_count(xor(a.ahash, b.ahash))::INT AS a_hamming
       |   FROM kp a JOIN kp b ON a.chunk = b.chunk AND a.cv = b.cv
       |     AND a.media_id < b.media_id
       |   WHERE bit_count(xor(a.dhash, b.dhash)) <= $maxHamming)""".stripMargin

  /** DuckDB oracle for [[q154ImageNearDup]]: predict each image's
    * 8×8 grid straight from [[lumaAt]] (a 2×2 box mean at base
    * resolution; the planted variants reproduce the base grid by
    * construction, so they share its media row formula keyed by
    * doc), hash with the same bit layout, and emit pairs through the
    * SAME capped banding ([[pairCtesSql]]) with exact bit arithmetic.
    */
  def oracleSql(resizeMod: Long = 17L, reencodeMod: Long = 29L): String =
    s"""WITH ${hashCtesSql(resizeMod, reencodeMod)},
       |${pairCtesSql()}
       |SELECT media_a, media_b, hamming, a_hamming FROM pr
       |ORDER BY media_a, media_b""".stripMargin

  /** The formula→grid→hash chain as CTEs over a source CTE `src`
    * with columns (seed, media_id), every CTE name prefixed with
    * `p` — reused by the corpus chain (p = "") and the q159 probe
    * chain (p = "p", where NOVEL probes carry an out-of-range seed).
    * Ends in `${p}s(media_id, dhash, ahash)`.
    */
  def sigChainSql(src: String, p: String): String =
    s"""${p}s1 AS (SELECT $src.media_id, xx.x, yy.y,
       |     (($src.seed*1000003 + xx.x*8191 + yy.y*131071 + 1)
       |       % 2147483647)::BIGINT AS s
       |   FROM $src, range(16) xx(x), range(16) yy(y)),
       | ${p}px AS (SELECT media_id, x, y,
       |     ((s * s % 2147483647) * 48271 % 2147483647 % 256)::BIGINT AS l
       |   FROM ${p}s1),
       | ${p}g AS (SELECT media_id, (y // 2) AS r, (x // 2) AS c,
       |     (sum(l) // 4)::BIGINT AS g
       |   FROM ${p}px GROUP BY media_id, (y // 2), (x // 2)),
       | ${p}d AS (SELECT a.media_id,
       |     sum(CASE WHEN a.g < b.g
       |       THEN (1::BIGINT << (a.r * 7 + a.c)) ELSE 0 END)::BIGINT AS dhash
       |   FROM ${p}g a JOIN ${p}g b ON b.media_id = a.media_id
       |     AND b.r = a.r AND b.c = a.c + 1
       |   WHERE a.c < 7 GROUP BY a.media_id),
       | ${p}mn AS (SELECT media_id, (sum(g) // 64)::BIGINT AS mg
       |   FROM ${p}g GROUP BY media_id),
       | ${p}ah AS (SELECT g.media_id,
       |     sum(CASE WHEN g.g <= mn.mg THEN 0
       |       WHEN g.r * 8 + g.c = 63 THEN (-9223372036854775807 - 1)
       |       ELSE (1::BIGINT << (g.r * 8 + g.c)) END)::BIGINT AS ahash
       |   FROM ${p}g g JOIN ${p}mn mn USING (media_id)
       |   GROUP BY g.media_id),
       | ${p}s AS (SELECT d.media_id, d.dhash, ah.ahash
       |   FROM ${p}d d JOIN ${p}ah ah USING (media_id))""".stripMargin

  /** The q154 hash chain as CTEs ending in `s(media_id, dhash,
    * ahash)` — shared by the q154 pair oracle, the q156 cluster
    * oracle, and (as the corpus side) the q159 gate oracle.
    */
  def hashCtesSql(resizeMod: Long = 17L, reencodeMod: Long = 29L): String =
    s"""m AS (
       |   SELECT doc_id AS seed, doc_id * 10 AS media_id FROM documents
       |   UNION ALL SELECT doc_id, doc_id * 10 + 1 FROM documents
       |     WHERE doc_id % $resizeMod = 0
       |   UNION ALL SELECT doc_id, doc_id * 10 + 2 FROM documents
       |     WHERE doc_id % $reencodeMod = 0),
       | ${sigChainSql("m", "")}""".stripMargin

  /** The q159 probe batch: a 2×-RESIZED BMP re-encode of every 31st
    * doc's image (a true duplicate arriving through ingest in a new
    * size AND container — the gate must flag it) and a NOVEL image
    * for every 37th doc, rendered from the same formula under an
    * out-of-range seed (doc_id + 10⁹, beyond any real doc — the gate
    * must admit it). Probe media_id = 10·doc + 5 / + 6.
    */
  def probeMedia(docs: DataFrame, dupMod: Long = 31L,
      novelMod: Long = 37L): DataFrame = {
    import docs.sparkSession.implicits._
    Parallel.fan(docs).select($"doc_id").as[Long]
      .mapPartitions(_.flatMap { id =>
        val dup = if (id % dupMod == 0)
          Iterator.single((id * 10L + 5L, render(id, 2, "bmp"), "image/bmp"))
        else Iterator.empty
        val novel = if (id % novelMod == 0)
          Iterator.single(
            (id * 10L + 6L, render(id + 1000000000L, 1, "png"), "image/png"))
        else Iterator.empty
        dup ++ novel
      })
      .toDF("media_id", "payload", "media_type")
  }

  /** Q159 — the ingest-time near-dup gate end-to-end: the q154
    * corpus as the standing signature index, the [[probeMedia]]
    * batch as arriving media; every planted duplicate probe must hit
    * its base (and the base's planted variants) at Hamming 0 through
    * the real encode → decode → hash → broadcast-banded-probe path,
    * and the novel probes must pass the gate unmatched. Any further
    * rows are formula near-collisions both engines derive
    * identically.
    */
  def q159NearDupGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    nearDupGate(signatures(syntheticMedia(docs)),
        signatures(probeMedia(docs)))
      .orderBy($"probe_id", $"media_id")
  }

  /** DuckDB oracle for [[q159NearDupGate]] — the shared corpus hash
    * chain plus the probe chain under the same formula (the dup
    * probe's 2× resize reproduces the base grid by construction, so
    * its row is the base seed; the novel probe carries the shifted
    * seed), joined at dHash Hamming ≤ 3.
    */
  def gateOracleSql(dupMod: Long = 31L, novelMod: Long = 37L): String =
    s"""WITH ${hashCtesSql()},
       | pm AS (
       |   SELECT doc_id AS seed, doc_id * 10 + 5 AS media_id
       |   FROM documents WHERE doc_id % $dupMod = 0
       |   UNION ALL SELECT doc_id + 1000000000, doc_id * 10 + 6
       |   FROM documents WHERE doc_id % $novelMod = 0),
       | ${sigChainSql("pm", "p")}
       |SELECT ps.media_id AS probe_id, s.media_id AS media_id,
       |  bit_count(xor(s.dhash, ps.dhash))::INT AS hamming,
       |  bit_count(xor(s.ahash, ps.ahash))::INT AS a_hamming
       |FROM s, ps
       |WHERE bit_count(xor(s.dhash, ps.dhash)) <= 3
       |ORDER BY probe_id, media_id""".stripMargin

  /** Q156 — image DUP CLUSTERS, the step after q154's pair
    * detection (the q125 mirror-cluster pattern on the image
    * modality): perceptual-dup pairs form a graph (a base, its
    * resize, its re-encode — and any formula near-collisions), each
    * connected component is ONE image in several renditions, and
    * curation keeps exactly one representative. Canonical = the
    * component's minimum media_id (min-label propagation's fixpoint,
    * so the election falls out of the component pass). Only media
    * appearing in some pair cluster — singletons need no election.
    * (media_id, canonical_media, cluster_size, is_keeper).
    */
  def q156ImageDupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = q154ImageNearDup(spark, dir)
      .select($"media_a", $"media_b")
    val cc = graft.core.Pin.reuse(
      DupClusters.connectedComponents(pairs))
    cc.join(cc.groupBy($"cluster_id")
          .agg(count(lit(1)).as("cluster_size")),
        "cluster_id")
      .select($"id".as("media_id"), $"cluster_id".as("canonical_media"),
        $"cluster_size", ($"id" === $"cluster_id").as("is_keeper"))
      .orderBy($"canonical_media", $"media_id")
  }

  /** DuckDB oracle for [[q156ImageDupClusters]] — the q154 hash
    * chain, then components via the q41/q125 recursive transitive-
    * closure CTE (tractable: the pair graph is planted-copy-sized),
    * label = min(media_id) = the canonical representative.
    */
  def clustersOracleSql(resizeMod: Long = 17L,
      reencodeMod: Long = 29L): String =
    s"""WITH RECURSIVE ${hashCtesSql(resizeMod, reencodeMod)},
       |${pairCtesSql()},
       | ${DupClusters.reachCtesSql("pr", "media_a", "media_b")},
       | lab AS (SELECT id, min(r) AS canon FROM reach GROUP BY id),
       | cl AS (SELECT canon, count(*)::BIGINT AS cluster_size
       |   FROM lab GROUP BY canon)
       |SELECT l.id AS media_id, l.canon AS canonical_media,
       |  c.cluster_size, (l.id = l.canon) AS is_keeper
       |FROM lab l JOIN cl c ON c.canon = l.canon
       |ORDER BY canonical_media, media_id""".stripMargin
}
