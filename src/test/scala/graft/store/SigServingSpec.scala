package graft.store

import java.nio.file.Files

import scala.io.Source

import graft.SparkSpec
import graft.operators.ImageHash

/** The signature serving tier (the q159 gate as an online admission
  * check): wire parity with the batch gate, partition-pruned bucket
  * reads, zero-Spark-job warm probes, and the /neardup HTTP route.
  */
class SigServingSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, path: String): String = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val is = if (conn.getResponseCode >= 400) conn.getErrorStream
      else conn.getInputStream
    val src = Source.fromInputStream(is, "UTF-8")
    try src.mkString finally src.close()
  }

  test("signature tier: probe results == the batch gate's rows, " +
      "warm probes run zero Spark jobs, /neardup serves the same " +
      "rows and novel probes return an empty admission list") {
    // standing index: bases 0..79 plus a re-encode flavor, persisted
    // in the band-bucketed layout
    val corpus = (0L until 80L).map(i =>
      (i * 10, ImageHash.render(i, 1, "png"))) ++
      (0L until 80L by 9).map(i => (i * 10 + 2, ImageHash.render(i, 1, "bmp")))
    val sig = ImageHash.signatures(corpus.toDF("media_id", "payload"))
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("sig-serve").toString
    SearchEndpoint.writeSignatureIndex(sig, dir, nBuckets = 16)
    val tier = new SigSearchTier(spark, dir, nBuckets = 16)

    // dup probe: a resized copy of doc 7; novel probe: shifted seed
    def sigOf(payload: Array[Byte]): (Long, Long) = {
      val g = ImageHash.lumaGrid(payload)
      (ImageHash.dHash(g), ImageHash.aHash(g))
    }
    val (dupD, dupA) = sigOf(ImageHash.render(7L, 2, "png"))
    val (novD, novA) = sigOf(ImageHash.render(7L + 2000000000L, 1, "png"))

    val probeDf = Seq((900L, dupD, dupA)).toDF("media_id", "dhash", "ahash")
    val want = ImageHash.nearDupGate(sig, probeDf)
      .select($"media_id", $"hamming", $"a_hamming")
      .as[(Long, Int, Int)].collect().toSeq.sortBy(r => (r._2, r._1))
    assert(want.exists(r => r._1 == 70L && r._2 == 0)) // hits its base

    val coldJobs = countJobs { assert(tier.probe(dupD, dupA) === want) }
    assert(coldJobs === 0, s"cold probe ran $coldJobs Spark jobs")
    val jobs = countJobs { assert(tier.probe(dupD, dupA) === want) }
    assert(jobs === 0, s"warm probe ran $jobs Spark jobs")
    val (h, m) = tier.stats
    assert(h > 0L && m > 0L)
    assert(tier.probe(novD, novA) === Nil) // novel: admit

    // HTTP surface: same rows on the wire; novel → empty Results;
    // missing params → 400; /stats carries the sig tier counters
    val bm25Dir = Files.createTempDirectory("sig-serve-bm25").toString
    SearchEndpoint.writeBm25Index(
      graft.operators.Retrieval.docTermStats(
        graft.core.Tables.load(spark, sf, "documents").limit(20)),
      bm25Dir, nBuckets = 4)
    val ivfDir = Files.createTempDirectory("sig-serve-ivf").toString
    val emb = graft.core.Tables.load(spark, sf, "embeddings").limit(32)
    val (indexed, model) = graft.operators.IvfIndex.buildPivots(emb, nLists = 2)
    SearchEndpoint.writeIvfIndex(indexed, ivfDir)
    val ep = new SearchHttpEndpoint(
      new Bm25SearchTier(spark, bm25Dir, nBuckets = 4),
      new IvfSearchTier(spark, ivfDir, model), tier)
    val port = ep.start()
    try {
      val wire = get(port, s"/neardup?dhash=$dupD&ahash=$dupA")
      val wantWire = want.map { case (mId, hd, ha) =>
        s"""{"media_id":$mId,"hamming":$hd,"a_hamming":$ha}"""
      }.mkString("""{"Results":[""", ",", "]}")
      assert(wire === wantWire)
      assert(get(port, s"/neardup?dhash=$novD&ahash=$novA") ===
        """{"Results":[]}""")
      assert(get(port, "/neardup?dhash=1") contains "missing required")
      assert(get(port, "/stats") contains "\"sig\":")
    } finally ep.stop()
  }

  test("the tier is modality-generic: audio and video signature " +
      "stores serve the same admission check (shared 56-bit dhash " +
      "banding contract)") {
    import graft.operators.{AudioHash, VideoHash}
    // audio: corpus of clips, probe = re-containerized copy of one
    val aSig = AudioHash.signatures(
      (0L until 40L).map(i => (i, AudioHash.render(i, 0)))
        .toDF("media_id", "payload")).localCheckpoint(true)
    val aDir = Files.createTempDirectory("sig-serve-aud").toString
    SearchEndpoint.writeSignatureIndex(aSig, aDir, nBuckets = 8)
    val aTier = new SigSearchTier(spark, aDir, nBuckets = 8)
    val aProbe = AudioHash.signatures(
      Seq((900L, AudioHash.render(11L, 1))).toDF("media_id", "payload"))
      .as[(Long, Long, Long)].head()
    val aHits = aTier.probe(aProbe._2, aProbe._3)
    assert(aHits.exists(h => h._1 == 11L && h._2 == 0))
    // video: probe = brightness-shifted copy
    val vSig = VideoHash.signatures(
      (0L until 30L).map(i => (i, VideoHash.renderAvi(i, 0)))
        .toDF("media_id", "payload")).localCheckpoint(true)
    val vDir = Files.createTempDirectory("sig-serve-vid").toString
    SearchEndpoint.writeSignatureIndex(vSig, vDir, nBuckets = 8)
    val vTier = new SigSearchTier(spark, vDir, nBuckets = 8)
    val vProbe = VideoHash.signatures(
      Seq((901L, VideoHash.renderAvi(13L, 2))).toDF("media_id", "payload"))
      .as[(Long, Long, Long)].head()
    val vHits = vTier.probe(vProbe._2, vProbe._3)
    assert(vHits.exists(h => h._1 == 13L && h._2 == 0 && h._3 == 0))
  }
}
