package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Output row of [[SequencePacking.pack]]. */
final case class PackedChunk(doc_id: Long, chunk_id: Long,
    chunk_tokens: Long, grp: Int, bin: Long, bin_fill: Long)

/** Sequence packing — grouping variable-length chunks into
  * fixed-token-budget training sequences (bins), the step between
  * chunking and batch assembly in a pretraining pipeline.
  *
  * Packing is inherently sequential (each bin decision depends on the
  * running fill), so a single global scan can't parallelize. The
  * scale contract: docs hash into `nGroups` independent packing
  * groups; within a group, chunks pack in deterministic
  * (doc_id, chunk_id) order with the NEXT-FIT rule (if the chunk
  * doesn't fit the open bin, close it and open a new one). Groups
  * pack in parallel — one shuffle on the group key, then one
  * streaming pass per partition over Tungsten's external sort (no
  * in-memory group materialization, so a group may exceed memory).
  * An oversized chunk (> maxTokens) gets a bin of its own.
  *
  * Deterministic end-to-end ⇒ DuckDB reproduces the packing with a
  * per-group recursive scan (q46's equality oracle) — recursion depth
  * is the largest group's chunk count, which nGroups keeps bounded.
  */
object SequencePacking {

  def pack(chunks: DataFrame, maxTokens: Long = 50,
      nGroups: Int = 32): DataFrame = {
    import chunks.sparkSession.implicits._
    // portable group hash (the q30 pivot-hash pattern): masked Knuth
    // multiplicative in plain BIGINT arithmetic — any oracle engine
    // recomputes it, and the 31-bit mask keeps the product < 2^63
    val grp = (((($"doc_id" % lit(2147483648L)) * lit(2654435761L))
      % lit(2147483648L)) % lit(nGroups.toLong)).cast("int")
    chunks
      .select($"doc_id", $"chunk_id", $"chunk_tokens", grp.as("grp"))
      .repartition(nGroups, $"grp")
      .sortWithinPartitions($"grp", $"doc_id", $"chunk_id")
      .as[(Long, Long, Long, Int)]
      .mapPartitions { it =>
        var curGrp = Int.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (d, c, n, g) =>
          if (g != curGrp) { curGrp = g; bin = 0L; fill = 0L }
          if (fill > 0 && fill + n > maxTokens) { bin += 1; fill = 0L }
          fill += n
          PackedChunk(d, c, n, g, bin, fill)
        }
      }
      .toDF()
  }

  /** Q46 — next-fit packing of the q43 chunks at a 50-token budget. */
  def q46PackedSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pack(TextStats.chunk(Tables.load(spark, dir, "documents")))
      .orderBy($"grp", $"doc_id", $"chunk_id")
  }

  /** Q150 — STRUCTURE-AWARE packing: the q149 section segments
    * (author-boundary chunks) packed into 64-token training
    * sequences by the same next-fit rule — the segment→pack leg of a
    * pretraining pipeline cut at document structure instead of q46's
    * blind token windows. Zero-token sections (heading-only) carry
    * no training text and are dropped BEFORE packing — also the
    * determinism guard: a zero-fill bin is the one state where the
    * operator's `fill > 0` test and the oracle's recursive
    * `fill + n > budget` test could disagree.
    */
  def q150SectionPacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        HtmlExtract.syntheticSectionedHtml($"doc_id", $"text").as("html"))
    val chunks = HtmlExtract.sectionSegments(pages)
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"section_idx".as("chunk_id"),
        $"n_tokens".as("chunk_tokens"))
    pack(chunks, maxTokens = 64)
      .orderBy($"grp", $"doc_id", $"chunk_id")
  }

  /** DuckDB oracle for [[q150SectionPacking]] — the shared q149
    * section CTE chain feeding the q46 recursive next-fit scan at
    * the 64-token budget.
    */
  def sectionPackingOracleSql(maxTokens: Long = 64L,
      nGroups: Int = 32): String =
    s"""WITH RECURSIVE ${HtmlExtract.sectionCtesSql},
       | c0 AS (SELECT doc_id, section_idx::BIGINT AS chunk_id,
       |    len(string_split(content, ' '))::BIGINT AS chunk_tokens
       |  FROM n WHERE content <> ''),
       | g AS (SELECT doc_id, chunk_id, chunk_tokens,
       |   ((((doc_id % 2147483648) * 2654435761) % 2147483648)
       |     % $nGroups)::INT AS grp
       | FROM c0),
       |""".stripMargin + nextFitOracleSql(maxTokens)

  /** The DuckDB next-fit scan behind every packing oracle (q46, q150,
    * q165): `o` numbers each group's chunks in `(doc_id, chunk_id)`
    * order and `pk` replays the scan recursively, one chunk per step
    * (depth = the largest group's chunk count). It continues a
    * `WITH RECURSIVE` chain that defines `g(doc_id, chunk_id,
    * chunk_tokens, grp)`.
    */
  private[graft] def nextFitOracleSql(maxTokens: Long): String =
    s""" o AS (SELECT *, row_number() OVER (
       |   PARTITION BY grp ORDER BY doc_id, chunk_id) AS rn FROM g),
       | pk AS (
       |   SELECT grp, rn, doc_id, chunk_id, chunk_tokens,
       |     0::BIGINT AS bin, chunk_tokens AS bin_fill
       |   FROM o WHERE rn = 1
       |   UNION ALL
       |   SELECT c.grp, c.rn, c.doc_id, c.chunk_id, c.chunk_tokens,
       |     CASE WHEN p.bin_fill + c.chunk_tokens > $maxTokens
       |          THEN p.bin + 1 ELSE p.bin END,
       |     CASE WHEN p.bin_fill + c.chunk_tokens > $maxTokens
       |          THEN c.chunk_tokens ELSE p.bin_fill + c.chunk_tokens END
       |   FROM o c JOIN pk p ON c.grp = p.grp AND c.rn = p.rn + 1)
       |SELECT doc_id, chunk_id, chunk_tokens, grp, bin, bin_fill FROM pk
       |ORDER BY grp, doc_id, chunk_id""".stripMargin
}
