package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** STRUCTURE-AWARE MARKDOWN EXTRACTION — fenced code blocks, the
  * structural unit a code-corpus pipeline treats differently from
  * prose (code gets its own dedup keys, its own quality rules, its
  * own mixture weight). One anchored regex extracts every CLOSED
  * fence — ``` + optional lowercase language tag + newline + a
  * backtick-free body + newline + ``` — so an UNTERMINATED trailing
  * fence marker is (by design, and by construction of the regex: the
  * body class `[^`]*` cannot cross a fence marker and nothing closes
  * it) not a fence; the q160 negative control plants exactly that.
  * The pattern stays in the dialect-shared subset (no lookarounds),
  * so Spark's Java regex and DuckDB's RE2 agree match-for-match, and
  * match order gives both engines the same fence index.
  *
  * Per fence: (doc_id, fence_idx, fence_lang, n_lines, body_fp) —
  * the body travels as the shared portable FINGERPRINT
  * ([[TextAnalysis.fingerprint]]), the cross-doc dedup key for
  * extracted code cells. Scale shape: per-row regex + generate, zero
  * shuffles — the pass rides the corpus scan; `posexplode_outer` +
  * null filter keeps Catalyst from inferring a `size > 0` filter
  * that would re-run the extraction regex twice per row (the q132
  * lesson).
  */
object Markdown {

  val fenceRe = "```([a-z]*)\\n([^`]*)\\n```"

  /** Per-fence extraction over `textCol`: one output row per closed
    * fence, in document order.
    */
  def codeFences(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        posexplode_outer(regexp_extract_all(col(textCol), lit(fenceRe),
          lit(0))).as(Seq("pos", "m")))
      .filter($"m".isNotNull)
      .select($"doc_id", ($"pos" + 1).cast("long").as("fence_idx"),
        regexp_extract($"m", fenceRe, 1).as("fence_lang"),
        size(split(regexp_extract($"m", fenceRe, 2), "\n"))
          .cast("long").as("n_lines"),
        TextAnalysis.fingerprint(regexp_extract($"m", fenceRe, 2))
          .as("body_fp"))
  }

  // -- q160 fixture: planted fences derived from doc_id -------------

  /** `documents.text` with planted markdown: a two-line python fence
    * for every 6th doc, a bare (untagged) one-line fence for every
    * 10th, and an UNTERMINATED fence marker for every 15th (the
    * negative control — no closing ```, so no fence row). Values
    * inside the bodies come from the shared [[Redact.scramble]], so
    * both engines derive identical text from `doc_id` alone.
    */
  def plantedMarkdown(id: Column, text: Column): Column = {
    def v(k: Int, i: Int): Column =
      (Redact.scramble(id, lit(i.toLong), k) % 100000).cast("string")
    concat(
      coalesce(text, lit("")),
      when(id % 6 === 0, concat(
        lit(" ```python\nln1 v"), v(13, 1),
        lit("\nln2 v"), v(13, 2), lit("\n``` "))).otherwise(lit("")),
      when(id % 10 === 0, concat(
        lit(" ```\nonly v"), v(21, 1), lit("\n``` "))).otherwise(lit("")),
      when(id % 15 === 0, concat(
        lit(" ```python\nunclosed v"), v(27, 1))).otherwise(lit("")))
  }

  /** Q160 — fence extraction over the planted corpus: every closed
    * plant yields its row (tag, line count, body fingerprint), the
    * unterminated plant yields nothing, and docs on both the %6 and
    * %10 lattices yield two rows whose fence_idx order is the
    * planted order in both engines.
    */
  def q160CodeFences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedMarkdown($"doc_id", $"text"))
    codeFences(docs).orderBy($"doc_id", $"fence_idx")
  }

  // -- q161: markdown links feeding the URL frontier -----------------

  val linkRe = "(!?)\\[([^\\]]*)\\]\\(([^()\\s]+)\\)"

  /** Markdown link extraction — `[anchor](url)` and image links
    * `![alt](url)` — feeding the SAME canonicalization chain the
    * HTML outlink family uses ([[UrlNorm.canonicalize]]): a markdown
    * corpus discovers frontier URLs through this syntax exactly as an
    * HTML corpus does through `<a href>`. One dialect-shared regex
    * (anchor cannot contain `]`, URL cannot contain parens or
    * whitespace — the CommonMark inline-link core without the exotic
    * nesting); bare URLs in prose are NOT links (the q161 negative
    * control). Per link: (doc_id, link_idx, is_image, anchor, url).
    */
  def extractLinks(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        posexplode_outer(regexp_extract_all(col(textCol), lit(linkRe),
          lit(0))).as(Seq("pos", "m")))
      .filter($"m".isNotNull)
      .select($"doc_id", ($"pos" + 1).cast("long").as("link_idx"),
        (regexp_extract($"m", linkRe, 1) === "!").as("is_image"),
        regexp_extract($"m", linkRe, 2).as("anchor"),
        regexp_extract($"m", linkRe, 3).as("url"))
  }

  /** `documents.text` with planted markdown links over the SHARED
    * synthetic-URL fixture ([[UrlNorm.syntheticUrl]] — one URL
    * grammar, q115/q118/q161 oracles all speak it): two prose links
    * for every 4th doc, an image link for every 9th, and a BARE
    * (unbracketed) URL for every 11th — present in the text, absent
    * from the output.
    */
  def plantedLinks(id: Column, text: Column): Column = {
    def url(t: Column): Column = UrlNorm.syntheticUrl(t)
    concat(
      coalesce(text, lit("")),
      when(id % 4 === 0, concat(
        lit(" [see]("), url((id * 31 + 3) % 997), lit(") more [go]("),
        url((id * 17 + 5) % 997), lit(")"))).otherwise(lit("")),
      when(id % 9 === 0, concat(
        lit(" ![fig]("), url((id * 13 + 1) % 997), lit(")")))
        .otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" "), url(id))).otherwise(lit("")))
  }

  /** Q161 — markdown links through the full canonicalization chain:
    * every planted link comes out with the canonical URL / host /
    * registered domain the q115 rules produce, the bare-URL plant
    * never appears, and link order is document order in both
    * engines.
    */
  def q161MarkdownLinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedLinks($"doc_id", $"text"))
    UrlNorm.canonicalize(extractLinks(docs))
      .select($"doc_id", $"link_idx", $"is_image", $"anchor",
        $"canonical_url", $"host", $"domain")
      .orderBy($"doc_id", $"link_idx")
  }

  /** DuckDB oracle for [[q161MarkdownLinks]] — same plants over the
    * shared [[UrlNorm.syntheticUrlSql]] grammar, same link regex,
    * then the SHARED `canonCtesSql` chain keyed by a per-link
    * synthetic id (doc·8 + idx; ≤ 3 links per doc) so link identity
    * survives the canonicalization CTEs.
    */
  def linksOracleSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 4 = 0
       |         THEN ' [see](' || ${UrlNorm.syntheticUrlSql("((doc_id * 31 + 3) % 997)")}
       |           || ') more [go](' || ${UrlNorm.syntheticUrlSql("((doc_id * 17 + 5) % 997)")} || ')'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 9 = 0
       |         THEN ' ![fig](' || ${UrlNorm.syntheticUrlSql("((doc_id * 13 + 1) % 997)")} || ')'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0
       |         THEN ' ' || ${UrlNorm.syntheticUrlSql("doc_id")}
       |         ELSE '' END AS t2
       |  FROM documents),
       | fx AS (SELECT doc_id, regexp_extract_all(t2, '$linkRe') AS ms
       |   FROM aug),
       | e AS (SELECT doc_id,
       |     unnest(range(1, len(ms) + 1)) AS link_idx,
       |     unnest(ms) AS m
       |   FROM fx WHERE len(ms) > 0),
       | lk AS (SELECT doc_id AS src_doc, link_idx,
       |     regexp_extract(m, '$linkRe', 1) = '!' AS is_image,
       |     regexp_extract(m, '$linkRe', 2) AS anchor,
       |     regexp_extract(m, '$linkRe', 3) AS url
       |   FROM e),
       | u AS (SELECT src_doc * 8 + link_idx AS doc_id, url FROM lk),
       |${UrlNorm.canonCtesSql}
       |SELECT lk.src_doc AS doc_id, lk.link_idx::BIGINT AS link_idx,
       |  lk.is_image, lk.anchor, f.canonical_url, f.host, f.domain
       |FROM fin f JOIN lk ON f.doc_id = lk.src_doc * 8 + lk.link_idx
       |ORDER BY doc_id, link_idx""".stripMargin

  // -- q162: duplicate code cells across the corpus ------------------

  /** `documents.text` with a SHARED-snippet fence for every 8th doc,
    * its body keyed by `doc_id % 23` — 23 distinct snippets repeated
    * across the corpus, the planted duplication q162 must group.
    */
  def plantedSharedMarkdown(id: Column, text: Column): Column =
    concat(
      coalesce(text, lit("")),
      when(id % 8 === 0, concat(
        lit(" ```python\nshared v"),
        (Redact.scramble(id % 23, lit(1L), 33) % 100000).cast("string"),
        lit("\n``` "))).otherwise(lit("")))

  /** Q162 — duplicate code-cell groups (the dedup step extracted
    * cells exist for): q160's extraction over the shared-snippet
    * corpus, grouped by (fence_lang, body fingerprint); groups with
    * more than one cell are the duplication the corpus carries.
    * (fence_lang, body_fp, n_cells, n_docs, min_doc).
    */
  def q162DupCodeCells(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedSharedMarkdown($"doc_id", $"text"))
    codeFences(docs)
      .groupBy($"fence_lang", $"body_fp")
      .agg(count(lit(1)).as("n_cells"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("min_doc"))
      .filter($"n_cells" > 1)
      .orderBy($"body_fp", $"fence_lang")
  }

  /** DuckDB oracle for [[q162DupCodeCells]] — same shared-snippet
    * plant (the scramble keyed by doc_id % 23), same extraction, same
    * grouping.
    */
  def dupCellsOracleSql: String = {
    val P = 2147483647L
    val q = "(doc_id % 23)"
    val sc =
      s"((($q*1000003 + 1*8191 + 33) % $P) * (($q*1000003 + 1*8191 + 33) % $P) % $P) * 48271 % $P"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 8 = 0
       |         THEN ' ``' || '`python' || chr(10)
       |           || 'shared v' || (($sc) % 100000)::VARCHAR || chr(10)
       |           || '``' || '` ' ELSE '' END AS t2
       |  FROM documents),
       | fx AS (SELECT doc_id, regexp_extract_all(t2, '$fenceRe') AS ms
       |   FROM aug),
       | e AS (SELECT doc_id, unnest(ms) AS m FROM fx WHERE len(ms) > 0),
       | b AS (SELECT doc_id,
       |     regexp_extract(m, '$fenceRe', 1) AS fence_lang,
       |     regexp_extract(m, '$fenceRe', 2) AS body
       |   FROM e),
       | c AS (SELECT doc_id, fence_lang,
       |     (${TextAnalysis.fingerprintSql("body")}) AS body_fp
       |   FROM b)
       |SELECT fence_lang, body_fp, count(*)::BIGINT AS n_cells,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  min(doc_id) AS min_doc
       |FROM c GROUP BY fence_lang, body_fp
       |HAVING count(*) > 1
       |ORDER BY body_fp, fence_lang""".stripMargin
  }

  // -- q163: pipe tables -------------------------------------------

  /** A pipe-table BLOCK: a header line, a separator line (cells of
    * dashes/colons/spaces only — the GitHub table marker), then zero
    * or more data lines, each `|…|`-delimited and newline-terminated.
    * One regex, alternation instead of multiline anchors, no
    * lookarounds — Java regex and RE2 agree block-for-block. A
    * header line with no separator under it is NOT a table (the q163
    * negative control).
    */
  val tableRe: String =
    "(?:^|\\n)(\\|[^\\n]*\\|\\n\\|[ :\\-|]+\\|\\n(?:\\|[^\\n]*\\|\\n)*)"

  /** Per-table census over `textCol`: (doc_id, table_idx, n_cols,
    * n_rows, header_fp) — column count from the separator's cells,
    * row count = data lines, header travels as the shared
    * fingerprint (the dedup key for repeated boilerplate tables).
    */
  def pipeTables(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        posexplode_outer(regexp_extract_all(col(textCol), lit(tableRe),
          lit(1))).as(Seq("pos", "b")))
      .filter($"b".isNotNull)
      .withColumn("_lines", split($"b", "\n"))
      .select($"doc_id", ($"pos" + 1).cast("long").as("table_idx"),
        (size(split(element_at($"_lines", 2), "\\|")) - 2)
          .cast("long").as("n_cols"),
        (size($"_lines") - 3).cast("long").as("n_rows"),
        TextAnalysis.fingerprint(element_at($"_lines", 1)).as("header_fp"))
  }

  /** `documents.text` with planted tables: a 3-column 2-row table
    * for every 5th doc, a 2-column 1-row table for every 12th, and a
    * SEPARATOR-LESS header line for every 13th (the negative — pipe
    * syntax alone is not a table).
    */
  def plantedTables(id: Column, text: Column): Column = {
    def v(k: Int): Column =
      (Redact.scramble(id, lit(1L), k) % 100000).cast("string")
    concat(
      coalesce(text, lit("")),
      when(id % 5 === 0, concat(
        lit("\n|h1 v"), v(41), lit("|h2|h3|\n|---|:--|--:|\n"),
        lit("|a|b|c|\n|d v"), v(43), lit("|e|f|\n"))).otherwise(lit("")),
      when(id % 12 === 0, concat(
        lit("\n|k v"), v(47), lit("|val|\n|--|--|\n|x|y|\n")))
        .otherwise(lit("")),
      when(id % 13 === 0, concat(
        lit("\n|not v"), v(53), lit("|a table|\nprose follows")))
        .otherwise(lit("")))
  }

  /** Q163 — pipe-table census over the planted corpus: every planted
    * table reports its exact column/row counts and header
    * fingerprint, the separator-less plant reports nothing, and
    * table order is document order in both engines.
    */
  def q163PipeTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedTables($"doc_id", $"text"))
    pipeTables(docs).orderBy($"doc_id", $"table_idx")
  }

  /** DuckDB oracle for [[q163PipeTables]] — same plants, same block
    * regex, cell/line arithmetic on string_split, shared header
    * fingerprint.
    */
  def tablesOracleSql: String = {
    val P = 2147483647L
    def sc(k: Int) =
      s"(((doc_id*1000003 + 1*8191 + $k) % $P) * ((doc_id*1000003 + 1*8191 + $k) % $P) % $P) * 48271 % $P"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN chr(10) || '|h1 v' || ((${sc(41)}) % 100000)::VARCHAR
       |           || '|h2|h3|' || chr(10) || '|---|:--|--:|' || chr(10)
       |           || '|a|b|c|' || chr(10)
       |           || '|d v' || ((${sc(43)}) % 100000)::VARCHAR || '|e|f|'
       |           || chr(10) ELSE '' END
       |    || CASE WHEN doc_id % 12 = 0
       |         THEN chr(10) || '|k v' || ((${sc(47)}) % 100000)::VARCHAR
       |           || '|val|' || chr(10) || '|--|--|' || chr(10)
       |           || '|x|y|' || chr(10) ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0
       |         THEN chr(10) || '|not v' || ((${sc(53)}) % 100000)::VARCHAR
       |           || '|a table|' || chr(10) || 'prose follows'
       |         ELSE '' END AS t2
       |  FROM documents),
       | fx AS (SELECT doc_id, regexp_extract_all(t2, '$tableRe', 1) AS ms
       |   FROM aug),
       | e AS (SELECT doc_id,
       |     unnest(range(1, len(ms) + 1)) AS table_idx,
       |     unnest(ms) AS b
       |   FROM fx WHERE len(ms) > 0),
       | l AS (SELECT doc_id, table_idx, string_split(b, chr(10)) AS ls
       |   FROM e),
       | c AS (SELECT doc_id, table_idx,
       |     (len(string_split(ls[2], '|')) - 2)::BIGINT AS n_cols,
       |     (len(ls) - 3)::BIGINT AS n_rows,
       |     ls[1] AS body
       |   FROM l)
       |SELECT doc_id, table_idx::BIGINT AS table_idx, n_cols, n_rows,
       |  (${TextAnalysis.fingerprintSql("body")}) AS header_fp
       |FROM c
       |ORDER BY doc_id, table_idx""".stripMargin
  }

  // -- q164/q165: heading-based section segmentation + packing -------

  /** ATX heading boundary: a newline followed by 1-6 `#` and a
    * space. The text is prefixed with one newline before splitting,
    * so a heading at position 0 still opens a section; no multiline
    * anchors, no lookarounds (the split CONSUMES the boundary, which
    * is fine — the heading text is the piece's first line).
    */
  val headingSplitRe = "\\n#{1,6} "

  /** SETEXT heading normalization (r13 VERDICT #5 — CommonMark's
    * second heading form): a flush-left text line underlined by a
    * run of `=` (level 1) or `-` (level 2) rewrites to the ATX form
    * (`# `/`## `) BEFORE the ATX split/census, so both grammars flow
    * through the one downstream path and [[sections]] /
    * [[headingCensus]] keep agreeing on what a heading is.
    *
    * Pragmatic flush-left grammar, deliberately RE2-compatible (no
    * lookarounds — the DuckDB oracles run the same two rewrites):
    * the heading line must start with a non-space, non-`#`, non-`|`
    * character and contain no `|`; the underline line must be ONLY
    * its marker run plus trailing spaces. That encodes CommonMark's
    * own disambiguations as negative controls:
    *  - a `---` after a BLANK line is a thematic break, not a
    *    heading (the preceding line fails the non-space start);
    *  - a pipe-table separator row (`|---|---|`) is neither a valid
    *    underline nor under a valid heading line (`|` exclusion);
    *  - an ATX heading followed by a dash run stays an ATX heading
    *    plus thematic break (`#` exclusion);
    *  - a `- item` bullet is never an underline (non-dash chars).
    * Fence protection rides for free: normalization runs AFTER the
    * shared fence strip, so underlines inside closed fences are
    * gone before this ever looks. Single-pass rewrites: two
    * DIRECTLY adjacent setext headings (`A\n===\nB\n---`, an empty
    * setext section) resolve only the first — the empty-section
    * idiom belongs to ATX, where q164's plant pins it.
    */
  val setextEqRe = "(^|\\n)([^#\\s|][^\\n|]*)\\n=+[ ]*(\\n|$)"
  val setextDashRe = "(^|\\n)([^#\\s|][^\\n|]*)\\n-+[ ]*(\\n|$)"

  def normalizeSetext(c: Column): Column =
    regexp_replace(regexp_replace(c, setextEqRe, "$1# $2$3"),
      setextDashRe, "$1## $2$3")

  /** The same two rewrites for the DuckDB oracles (RE2 `\n`
    * backrefs), applied to an SQL string expression.
    */
  def normalizeSetextSql(x: String): String =
    s"""regexp_replace(regexp_replace($x,
       |      '$setextEqRe', '\\1# \\2\\3', 'g'),
       |      '$setextDashRe', '\\1## \\2\\3', 'g')""".stripMargin

  /** SECTION SEGMENTATION for markdown (the q149 HTML analog on the
    * `#`-heading grammar): split each document at ATX heading lines
    * into (doc_id, section_idx, heading, content, n_tokens) — idx 0
    * is the preamble (empty heading), each later section carries its
    * heading line's text and everything up to the next heading.
    *
    * FENCE-AWARE: closed code fences are replaced by a ` [CODE] `
    * placeholder BEFORE splitting (the shared [[fenceRe]]), so a `#`
    * line inside a fenced block never opens a section — the code
    * cells themselves are [[codeFences]]' output, extracted
    * separately exactly as a code-corpus pipeline does (prose
    * segments feed the packer; cells feed dedup). Pure per-row
    * projection + one generator, zero shuffles, same scale shape as
    * q149; empty-preamble rows drop, empty-bodied heading sections
    * survive with n_tokens 0 (the packer's own filter decides).
    */
  def sections(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    val noFence = normalizeSetext(
      regexp_replace(col(textCol), fenceRe, " [CODE] "))
    docs
      .withColumn("_sec", split(concat(lit("\n"), noFence), headingSplitRe))
      .select(col("doc_id"), posexplode($"_sec"))
      .withColumn("heading",
        when($"pos" > 0, regexp_extract($"col", "^([^\n]*)", 1))
          .otherwise(lit("")))
      .withColumn("content", trim(regexp_replace(
        when($"pos" > 0, regexp_replace($"col", "^[^\n]*(\n|$)", ""))
          .otherwise($"col"),
        "\\s+", " ")))
      .filter($"pos" > 0 || $"content" =!= "")
      .select($"doc_id", $"pos".cast("long").as("section_idx"),
        $"heading", $"content",
        when($"content" === "", lit(0L))
          .otherwise(size(split($"content", " ", -1)).cast("long"))
          .as("n_tokens"))
  }

  /** Deterministic sectioned markdown: the doc's tokens dealt into
    * three headed parts (levels ##/###/# — the split is level-blind)
    * behind a preamble, plus the negative controls: an EMPTY section
    * (heading directly followed by the next heading) for every 5th
    * doc, and for every 6th doc a fenced code block whose body
    * contains a `# fake`-heading line — fence protection must keep it
    * ONE token (`[CODE]`) of the last section, not a section of its
    * own.
    */
  def plantedSections(id: Column, text: Column): Column = {
    val toks = split(coalesce(text, lit("")), " ", -1)
    val nt = size(toks)
    val k = ((nt - nt % 3) / lit(3)).cast("int")
    concat(
      lit("Doc "), id.cast("string"), lit(" intro"),
      lit("\n## Part 1 of doc "), id.cast("string"), lit("\n"),
      array_join(slice(toks, lit(1), k), " "),
      lit("\n### Part 2 of doc "), id.cast("string"), lit("\n"),
      array_join(slice(toks, k + 1, k), " "),
      when(id % 5 === 0,
        concat(lit("\n## Empty section "), id.cast("string")))
        .otherwise(lit("")),
      lit("\n# Part 3 of doc "), id.cast("string"), lit("\n"),
      array_join(slice(toks, k * 2 + 1, nt - k * 2), " "),
      when(id % 6 === 0,
        lit("\n```python\nx = 1\n# fake heading in code\n```"))
        .otherwise(lit("")),
      // setext plants (r14): an `=`-underlined level-1 heading for
      // every 7th doc, a `-`-underlined level-2 for every 11th —
      // both must segment/census exactly like their ATX forms
      when(id % 7 === 0,
        concat(lit("\nSetext part of doc "), id.cast("string"),
          lit("\n====\nunderlined body for doc "), id.cast("string")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit("\nSetext sub of doc "), id.cast("string"),
          lit("\n----\ndashed body here")))
        .otherwise(lit("")),
      // negative controls: a `---` after a BLANK line is a thematic
      // break (every 9th doc), and a pipe-table separator row is not
      // an underline (every 13th doc) — neither may open a section
      // or appear in the census
      when(id % 9 === 0,
        lit("\n\n---\nthematic break text not a heading"))
        .otherwise(lit("")),
      when(id % 13 === 0,
        lit("\n| c1 | c2 |\n| --- | --- |\n| a | b |"))
        .otherwise(lit("")))
  }

  /** Q164 — markdown section segmentation over the planted corpus:
    * every headed part reports its heading text and token count, the
    * %5 empty-section plant yields a 0-token row, and the %6
    * fenced fake heading NEVER yields a section (its fence collapses
    * to one `[CODE]` token inside Part 3).
    */
  def q164MdSections(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedSections($"doc_id", $"text"))
    sections(docs).orderBy($"doc_id", $"section_idx")
  }

  /** The q164 fixture + fence strip as CTEs ending in
    * `nf(doc_id, x)` (x = chr(10)-prefixed, fence-stripped text) —
    * shared by the q164/q165 section chain and the q166 heading
    * census.
    */
  def mdFixtureCtesSql: String =
    s"""t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
       |   FROM documents),
       | md AS (SELECT doc_id,
       |    'Doc ' || doc_id::VARCHAR || ' intro' ||
       |    chr(10) || '## Part 1 of doc ' || doc_id::VARCHAR || chr(10) ||
       |      coalesce(array_to_string(ts[1:k], ' '), '') ||
       |    chr(10) || '### Part 2 of doc ' || doc_id::VARCHAR || chr(10) ||
       |      coalesce(array_to_string(ts[k+1:2*k], ' '), '') ||
       |    CASE WHEN doc_id % 5 = 0
       |      THEN chr(10) || '## Empty section ' || doc_id::VARCHAR
       |      ELSE '' END ||
       |    chr(10) || '# Part 3 of doc ' || doc_id::VARCHAR || chr(10) ||
       |      coalesce(array_to_string(ts[2*k+1:len(ts)], ' '), '') ||
       |    CASE WHEN doc_id % 6 = 0
       |      THEN chr(10) || '``' || '`python' || chr(10) || 'x = 1' ||
       |        chr(10) || '# fake heading in code' || chr(10) || '``' || '`'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0
       |      THEN chr(10) || 'Setext part of doc ' || doc_id::VARCHAR ||
       |        chr(10) || '====' || chr(10) ||
       |        'underlined body for doc ' || doc_id::VARCHAR
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |      THEN chr(10) || 'Setext sub of doc ' || doc_id::VARCHAR ||
       |        chr(10) || '----' || chr(10) || 'dashed body here'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 9 = 0
       |      THEN chr(10) || chr(10) || '---' || chr(10) ||
       |        'thematic break text not a heading'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0
       |      THEN chr(10) || '| c1 | c2 |' || chr(10) ||
       |        '| --- | --- |' || chr(10) || '| a | b |'
       |      ELSE '' END AS text
       |  FROM (SELECT doc_id, ts,
       |      ((len(ts) - len(ts) % 3) // 3)::INT AS k FROM t)),
       | nf AS (SELECT doc_id,
       |    chr(10) || ${normalizeSetextSql(
                s"regexp_replace(text, '$fenceRe', ' [CODE] ', 'g')")} AS x
       |  FROM md)""".stripMargin

  /** The q164 fixture + segmentation chain as CTEs ending in
    * `n(doc_id, section_idx, heading, content)` — shared by the q164
    * oracle and the q165 section-packing oracle (the
    * q149/q150 CTE-sharing pattern on the markdown grammar).
    */
  def sectionCtesSql: String =
    s"""$mdFixtureCtesSql,
       | sp AS (SELECT doc_id, u.p - 1 AS section_idx, u.s AS piece
       |   FROM (SELECT doc_id, unnest(list_transform(
       |       range(1, len(secs) + 1),
       |       i -> struct_pack(p := i, s := secs[i]))) AS u
       |     FROM (SELECT doc_id,
       |         string_split_regex(x, '$headingSplitRe') AS secs
       |       FROM nf) q)),
       | n AS (SELECT doc_id, section_idx,
       |    (CASE WHEN section_idx > 0
       |      THEN regexp_extract(piece, '^([^\\n]*)', 1) ELSE '' END)
       |      AS heading,
       |    trim(regexp_replace(
       |      (CASE WHEN section_idx > 0
       |       THEN regexp_replace(piece, '^[^\\n]*(\\n|$$)', '')
       |       ELSE piece END),
       |      '\\s+', ' ', 'g')) AS content
       |  FROM sp)""".stripMargin

  /** DuckDB oracle for [[q164MdSections]] — same fixture expression,
    * fence strip, split boundary and first-line arithmetic.
    */
  def sectionsOracleSql: String =
    s"""WITH $sectionCtesSql
       |SELECT doc_id, section_idx::BIGINT AS section_idx, heading,
       |  content,
       |  (CASE WHEN content = '' THEN 0
       |   ELSE len(string_split(content, ' ')) END)::BIGINT AS n_tokens
       |FROM n WHERE section_idx > 0 OR content <> ''
       |ORDER BY doc_id, section_idx""".stripMargin

  /** Q165 — markdown sections packed into 64-token training
    * sequences by the shared next-fit rule ([[SequencePacking.pack]])
    * — the markdown corpus now feeds the same segment→pack leg HTML
    * corpora feed through q149→q150. Zero-token sections (the empty
    * plant) drop before packing, q150's determinism guard.
    */
  def q165MdSectionPacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedSections($"doc_id", $"text"))
    val chunks = sections(docs)
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"section_idx".as("chunk_id"),
        $"n_tokens".as("chunk_tokens"))
    SequencePacking.pack(chunks, maxTokens = 64)
      .orderBy($"grp", $"doc_id", $"chunk_id")
  }

  /** DuckDB oracle for [[q165MdSectionPacking]] — the shared q164
    * section chain feeding the q46/q150 recursive next-fit scan.
    */
  def sectionPackingOracleSql(maxTokens: Long = 64L,
      nGroups: Int = 32): String =
    s"""WITH RECURSIVE $sectionCtesSql,
       | c0 AS (SELECT doc_id, section_idx::BIGINT AS chunk_id,
       |    len(string_split(content, ' '))::BIGINT AS chunk_tokens
       |  FROM n WHERE content <> ''),
       | g AS (SELECT doc_id, chunk_id, chunk_tokens,
       |   ((((doc_id % 2147483648) * 2654435761) % 2147483648)
       |     % $nGroups)::INT AS grp
       | FROM c0),
       |""".stripMargin + SequencePacking.nextFitOracleSql(maxTokens)

  // -- q166: heading hierarchy census --------------------------------

  /** ATX heading as a MATCH (not a split boundary): captures the
    * `#` run (level) and the heading line. Fence-stripped first,
    * like [[sections]] — the two ops agree on what a heading is.
    */
  val headingRe = "(^|\\n)(#{1,6}) ([^\\n]*)"

  /** HEADING HIERARCHY census — the document-structure signal a
    * curation pipeline reads without materializing sections: one row
    * per heading, (doc_id, heading_idx, level, heading, heading_fp),
    * in document order with the `#`-run length as the level. The
    * heading fingerprint is the boilerplate-dedup key (repeated
    * navigation headings across a site collapse on it — the q163
    * header_fp device on the heading axis). Fence-protected via the
    * shared strip; per-row regex + generate, zero shuffles.
    */
  def headingCensus(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    val noFence = normalizeSetext(
      regexp_replace(col(textCol), fenceRe, " [CODE] "))
    docs
      .select(col("doc_id"),
        posexplode_outer(regexp_extract_all(noFence, lit(headingRe),
          lit(0))).as(Seq("pos", "m")))
      .filter($"m".isNotNull)
      .select($"doc_id", ($"pos" + 1).cast("long").as("heading_idx"),
        length(regexp_extract($"m", headingRe, 2)).cast("long").as("level"),
        regexp_extract($"m", headingRe, 3).as("heading"))
      .withColumn("heading_fp", TextAnalysis.fingerprint($"heading"))
  }

  /** Q166 — heading census over the q164 planted corpus: the three
    * parts report levels 2/3/1 in document order (plus the %5 empty
    * section at level 2), and the %6 fenced `# fake` heading never
    * appears — the same fence-protection contract as q164, now
    * asserted on the heading axis.
    */
  def q166HeadingCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("text", plantedSections($"doc_id", $"text"))
    headingCensus(docs).orderBy($"doc_id", $"heading_idx")
  }

  /** DuckDB oracle for [[q166HeadingCensus]] — the shared q164
    * fixture CTEs (md/nf), the same heading regex as matches, zipped
    * unnests for the index, level = length of the `#` run.
    */
  def headingCensusOracleSql: String = {
    // the shared q164 fixture + fence strip, but headings as MATCHES
    // instead of split boundaries; nf prefixes chr(10), so the (^|\n)
    // alternative behaves identically in both engines
    s"""WITH $mdFixtureCtesSql,
       | fx AS (SELECT doc_id, regexp_extract_all(x, '$headingRe') AS ms
       |   FROM nf),
       | e AS (SELECT doc_id,
       |     unnest(range(1, len(ms) + 1)) AS heading_idx,
       |     unnest(ms) AS m
       |   FROM fx WHERE len(ms) > 0),
       | h AS (SELECT doc_id, heading_idx,
       |     length(regexp_extract(m, '$headingRe', 2))::BIGINT AS level,
       |     regexp_extract(m, '$headingRe', 3) AS heading
       |   FROM e)
       |SELECT doc_id, heading_idx::BIGINT AS heading_idx, level, heading,
       |  (${TextAnalysis.fingerprintSql("heading")}) AS heading_fp
       |FROM h
       |ORDER BY doc_id, heading_idx""".stripMargin
  }

  /** DuckDB oracle for [[q160CodeFences]] — same plants (chr(10)
    * newlines), same regex, match index via zipped unnests, body
    * fingerprint via the shared [[TextAnalysis.fingerprintSql]].
    */
  def oracleSql: String = {
    val P = 2147483647L
    def sc(k: Int, i: Int) =
      s"(((doc_id*1000003 + $i*8191 + $k) % $P) * ((doc_id*1000003 + $i*8191 + $k) % $P) % $P) * 48271 % $P"
    val pat = "```([a-z]*)\\n([^`]*)\\n```"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 6 = 0
       |         THEN ' ``' || '`python' || chr(10)
       |           || 'ln1 v' || ((${sc(13, 1)}) % 100000)::VARCHAR || chr(10)
       |           || 'ln2 v' || ((${sc(13, 2)}) % 100000)::VARCHAR || chr(10)
       |           || '``' || '` ' ELSE '' END
       |    || CASE WHEN doc_id % 10 = 0
       |         THEN ' ``' || '`' || chr(10)
       |           || 'only v' || ((${sc(21, 1)}) % 100000)::VARCHAR || chr(10)
       |           || '``' || '` ' ELSE '' END
       |    || CASE WHEN doc_id % 15 = 0
       |         THEN ' ``' || '`python' || chr(10)
       |           || 'unclosed v' || ((${sc(27, 1)}) % 100000)::VARCHAR
       |         ELSE '' END AS t2
       |  FROM documents),
       | fx AS (SELECT doc_id, regexp_extract_all(t2, '$pat') AS ms
       |   FROM aug),
       | e AS (SELECT doc_id,
       |     unnest(range(1, len(ms) + 1)) AS fence_idx,
       |     unnest(ms) AS m
       |   FROM fx WHERE len(ms) > 0),
       | b AS (SELECT doc_id, fence_idx,
       |     regexp_extract(m, '$pat', 1) AS fence_lang,
       |     regexp_extract(m, '$pat', 2) AS body
       |   FROM e)
       |SELECT doc_id, fence_idx::BIGINT AS fence_idx, fence_lang,
       |  len(string_split(body, chr(10)))::BIGINT AS n_lines,
       |  (${TextAnalysis.fingerprintSql("body")}) AS body_fp
       |FROM b
       |ORDER BY doc_id, fence_idx""".stripMargin
  }
}
