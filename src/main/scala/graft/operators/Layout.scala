package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, DecimalType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, StringType}

/** Physical-layout controls for 100 TB: bucketed tables (co-located,
  * shuffle-free joins), the key-bucket hash that partitions the
  * feature store's online table, key salting (skew spreading), Z-order
  * profiling and encoding advice. These are the knobs SCALE.md's
  * claims rest on; each has a plan-level spec (LayoutSpec) proving the
  * exchange disappears / the skew spreads.
  */
object Layout {

  /** Write `df` as a bucketed managed table. Joins between tables
    * bucketed the same way on the join key plan with zero Exchange on
    * either side (asserted in LayoutSpec): bucket by the entity key
    * once at write time, join forever without shuffling.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Key-bucket column of the online table's bucket partitions:
    * `pmod(xxhash64(key), nBuckets)`.
    */
  def keyBucket(keyCol: String, nBuckets: Int): Column =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int")

  /** [[keyBucket]] of one key of the stored `keyType`, evaluated on
    * the driver — the same Catalyst `xxhash64`, no Spark job.
    */
  def keyBucketOf(key: Any, keyType: DataType, nBuckets: Int): Int = {
    val h = new XxHash64(Seq(Literal.create(key, keyType)))
      .eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** A caller's id as a value of the stored key type, so it hashes
    * like the stored key (xxhash64 hashes an Int and a Long
    * differently). None for an id that cannot be a stored key at all
    * (e.g. a non-numeric string against a long key).
    */
  def storedKey(id: Any, keyType: DataType): Option[Any] =
    try Some(keyType match {
      case LongType    => id.toString.toLong
      case IntegerType => id.toString.toInt
      case ShortType   => id.toString.toShort
      case ByteType    => id.toString.toByte
      case DoubleType  => id.toString.toDouble
      case FloatType   => id.toString.toFloat
      case StringType  => id.toString
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(id.toString), d.precision, d.scale)
      case _           => id
    })
    // NonFatal, not just NumberFormatException: every conversion
    // failure is 'this id can match no stored key'
    catch { case scala.util.control.NonFatal(_) => None }

  /** Salted aggregation for skewed keys: two-phase group-by. Phase 1
    * groups on (key, salt) — the hot key's rows spread over
    * `saltBuckets` reducers; phase 2 merges the partials. Correct for
    * algebraic aggregates (sum/count here; min/max/avg derivable).
    */
  def saltedSumCount(df: DataFrame, keyCol: String, valueCol: String,
      saltBuckets: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(saltBuckets)))
      .groupBy(col(keyCol), $"_salt")
      .agg(sum(col(valueCol)).as("_s"), count(lit(1)).as("_c"))
      .groupBy(col(keyCol))
      .agg(sum($"_s").as("total"), sum($"_c").as("n"))
  }

  /** Salted broadcast-replicated join for a skewed fact side: the dim
    * side is exploded `saltBuckets`× with a salt column, the fact side
    * gets a random-ish but deterministic salt, and the join key
    * becomes (key, salt) — a single hot key's rows land on
    * `saltBuckets` different reducers instead of one. Use when the
    * dim side is too big to broadcast outright but the fact key
    * distribution is pathological.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    import fact.sparkSession.implicits._
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(saltBuckets)))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
      .withColumn("_salt", $"_salt".cast("long"))
    saltedFact.join(saltedDim, Seq(key, "_salt")).drop("_salt")
  }

  // ---------------------------------------------------------------
  // Z-ORDER (Morton) layout clustering (q143) — multi-dimensional
  // scan pruning: the lakehouse OPTIMIZE ZORDER op.
  // ---------------------------------------------------------------

  /** Bit-spread steps for Morton interleaving (the parallel-bit-
    * deposit idiom): after the fold, bit i of the input sits at bit
    * 2i. One constants list, two texts — the Column twin and the
    * oracle SQL builder fold over the SAME pairs.
    */
  private val MortonSpreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 281470681808895L,      // 0x0000FFFF0000FFFF
    8  -> 71777214294589695L,    // 0x00FF00FF00FF00FF
    4  -> 1085102592571150095L,  // 0x0F0F0F0F0F0F0F0F
    2  -> 3689348814741910323L,  // 0x3333333333333333
    1  -> 6148914691236517205L)  // 0x5555555555555555

  /** One spread step as a Column; callers MUST layer steps through
    * named intermediate columns (`withColumn` per step) — folding all
    * five into one expression re-inlines the accumulator 3× per step
    * (3⁵ copies of the quantization chain: the UrlNorm 64 KB-codegen
    * lesson).
    */
  private def spreadStep(x: Column, step: (Int, Long)): Column =
    x.bitwiseOR(shiftleft(x, step._1)).bitwiseAND(lit(step._2))

  /** The same step as DuckDB SQL text over a COLUMN NAME (layered
    * through CTE columns oracle-side for the same reason).
    */
  def spreadStepSql(x: String, i: Int): String = {
    val (sh, mask) = MortonSpreadSteps(i)
    s"(($x | ($x << $sh)) & $mask)"
  }

  /** Z-ORDER CLUSTERING PROFILE — quantize two numeric dimensions to
    * `qbits` each (exact integer rescale against the broadcast
    * global min/max), interleave the bits into a Morton key, deal
    * rows into `nBuckets` equal z-ranges, and report each bucket's
    * row count and BOTH dimensions' min/max. The per-bucket ranges
    * ARE the layout contract: consecutive z-ranges are axis-aligned
    * tiles, so every bucket is narrow in BOTH dimensions at once —
    * which is exactly what per-file min/max pruning needs when
    * queries filter on either dimension (a single-key sort makes
    * files narrow in that key and full-width in every other; the
    * spec pins the 16×16-tile exactness on a synthetic grid and the
    * baseline contrast). At 100 TB this is the write-time clustering
    * step before `writeBucketed`: `repartitionByRange(zkey)` then
    * write, giving O(√files) file touches for a predicate on either
    * dimension.
    *
    * All arithmetic is exact BIGINT: quantize is `(v−min)·maxQ div
    * span` (monotone, endpoints map to 0 and maxQ), the spread is
    * shift/mask, the bucket is `zkey·nBuckets div 2^(2·qbits)` —
    * engine-portable, so the oracle checks the full profile. The two
    * scalar min/max aggs ride one broadcast 1-row cross join; the
    * profile is ONE zkey-bucket-keyed partial agg. Inputs must be
    * non-negative (true of every key/tick column here; a production
    * form shifts by the min first, which the quantize step already
    * does).
    */
  def zorderProfile(df: DataFrame, dimA: String, dimB: String,
      qbits: Int = 16, nBuckets: Int = 64): DataFrame = {
    require(qbits >= 1 && qbits <= 21, "qbits must be in [1, 21]")
    import df.sparkSession.implicits._
    val maxQ = (1L << qbits) - 1L
    val bounds = df.agg(
      min(col(dimA)).cast("long").as("_mina"),
      max(col(dimA)).cast("long").as("_maxa"),
      min(col(dimB)).cast("long").as("_minb"),
      max(col(dimB)).cast("long").as("_maxb"))
    val q0 = df.crossJoin(broadcast(bounds))
      .withColumn("_va", col(dimA).cast("long"))
      .withColumn("_vb", col(dimB).cast("long"))
      .withColumn("_qa", expr(s"CASE WHEN _maxa = _mina THEN 0L ELSE " +
        s"((_va - _mina) * ${maxQ}L) div (_maxa - _mina) END"))
      .withColumn("_qb", expr(s"CASE WHEN _maxb = _minb THEN 0L ELSE " +
        s"((_vb - _minb) * ${maxQ}L) div (_maxb - _minb) END"))
    // layered spread: one withColumn per step per dim (see spreadStep)
    val spreadA = MortonSpreadSteps.zipWithIndex.foldLeft(
      q0.withColumn("_sa0", $"_qa")) { case (acc, (step, i)) =>
        acc.withColumn(s"_sa${i + 1}", spreadStep(col(s"_sa$i"), step))
      }
    val spreadB = MortonSpreadSteps.zipWithIndex.foldLeft(
      spreadA.withColumn("_sb0", $"_qb")) { case (acc, (step, i)) =>
        acc.withColumn(s"_sb${i + 1}", spreadStep(col(s"_sb$i"), step))
      }
    val n = MortonSpreadSteps.size
    spreadB
      .withColumn("_zkey",
        col(s"_sa$n").bitwiseOR(shiftleft(col(s"_sb$n"), 1)))
      .withColumn("bucket",
        expr(s"(_zkey * ${nBuckets}L) div ${1L << (2 * qbits)}L"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col(dimA)).cast("long").as(s"min_$dimA"),
        max(col(dimA)).cast("long").as(s"max_$dimA"),
        min(col(dimB)).cast("long").as(s"min_$dimB"),
        max(col(dimB)).cast("long").as(s"max_$dimB"))
  }

  // ---------------------------------------------------------------
  // COLUMNAR ENCODING ADVISOR (q148) — per-column dictionary / RLE
  // statistics: the storage-tuning profile a 100 TB write path
  // consults before choosing parquet encodings and sort orders.
  // ---------------------------------------------------------------

  /** Per-column encoding statistics over an EXPLICIT canonical order
    * (runs over a table's physical order are reader-dependent and
    * therefore not a contract): for each advised column —
    * n, n_distinct, distinct-ratio ticks, run count, average run
    * length in ticks, and the rule-based recommendation
    * (`dict` when the dictionary is tiny relative to rows, `rle` on
    * long runs, `dict_rle` on both, `plain` otherwise).
    *
    * Runs are counted WITHIN each `groupCol` group under the
    * `orderCols` sort — which must be a TOTAL order up to full-row
    * duplicates (rows tied on every sort column are interchangeable,
    * so the run count is well-defined; an ambiguous prefix order
    * would let two engines disagree on adjacency, found the hard way
    * on this table's duplicate (orderkey, linenumber) pairs). Group
    * boundaries start a new run; the window partitions by
    * the group key, so the pass parallelizes over groups — a single
    * global-order window would funnel the corpus through one
    * reducer (the q16-r1 trap), and group-local runs are exactly
    * what a writer sorted by (group, order) produces. ONE window
    * pass computes the run-start flag for every advised column
    * (one lag per column over the same window spec), one agg folds
    * them, and the per-column melt is a union of literal projections
    * over the broadcast 1-row stats frame.
    */
  def encodingAdvisor(df: DataFrame, groupCol: String, orderCols: Seq[String],
      cols: Seq[String], dictMaxRatioTicks: Long = 10000L,
      rleMinAvgRunTicks: Long = 2000000L): DataFrame = {
    import df.sparkSession.implicits._
    val w = Window.partitionBy(col(groupCol))
      .orderBy(orderCols.map(col): _*)
    // run-start flag via NULL-SAFE inequality (IS DISTINCT FROM
    // semantics): `isNull || =!=` would emit 0 for a NULL value
    // following a non-null (and restart consecutive-NULL runs
    // differently than the oracle's `lag(c) IS DISTINCT FROM c`)
    val flagged = cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"_rs_$c",
        when(!(lag(col(c), 1).over(w) <=> col(c)), 1L).otherwise(0L))
    }
    val aggs = count(lit(1)).as("_n") +: cols.flatMap(c => Seq(
      countDistinct(col(c)).as(s"_nd_$c"),
      sum(col(s"_rs_$c")).as(s"_runs_$c")))
    val stats = flagged.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      stats.select(
        lit(c).as("col_name"),
        $"_n".as("n"),
        col(s"_nd_$c").as("n_distinct"),
        expr(s"_nd_$c * 1000000L div _n").as("distinct_ratio_ticks"),
        col(s"_runs_$c").as("n_runs"),
        // an all-NULL column has zero run starts under IS DISTINCT
        // FROM semantics — report 0 ticks instead of an ANSI
        // divide-by-zero (mirrored in the oracle arm)
        expr(s"CASE WHEN _runs_$c = 0 THEN 0L " +
          s"ELSE _n * 1000000L div _runs_$c END").as("avg_run_ticks"))
    }.reduce(_.union(_))
    perCol.withColumn("recommendation",
      when($"distinct_ratio_ticks" <= dictMaxRatioTicks &&
          $"avg_run_ticks" >= rleMinAvgRunTicks, lit("dict_rle"))
        .when($"distinct_ratio_ticks" <= dictMaxRatioTicks, lit("dict"))
        .when($"avg_run_ticks" >= rleMinAvgRunTicks, lit("rle"))
        .otherwise(lit("plain")))
  }

  val AdvisedCols: Seq[String] = Seq(
    "l_returnflag", "l_linestatus", "l_shipmode_sub", "l_quantity",
    "l_partkey")

  /** The q148 canonical in-group sort: (linenumber, then every other
    * column) — total up to full-row duplicates, which is what run
    * counting needs (this table HAS duplicate (orderkey, linenumber)
    * pairs, so linenumber alone is engine-ambiguous).
    */
  val CanonicalOrder: Seq[String] = Seq(
    "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** Q148 — encoding advice for `lineitem` under its canonical
    * (l_orderkey, l_linenumber) sort. `l_shipmode_sub` is a derived
    * low-cardinality column (shipdate month) standing in for the
    * classic enum column; the advised set spans the whole decision
    * table: 2–3-value enums (dict), ~50-value numerics (dict),
    * 20k-key ids (plain).
    */
  def q148EncodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.core.Tables.load(spark, dir, "lineitem")
      .withColumn("l_shipmode_sub", month($"l_shipdate").cast("long"))
    encodingAdvisor(li, "l_orderkey", CanonicalOrder, AdvisedCols)
      .orderBy($"col_name")
  }

  /** DuckDB oracle for [[q148EncodingAdvisor]] — same window run
    * flags, tick arithmetic and decision table, one UNION ALL arm
    * per advised column generated from the same list.
    */
  def encodingAdvisorOracleSql(dictMaxRatioTicks: Long = 10000L,
      rleMinAvgRunTicks: Long = 2000000L): String = {
    val arms = AdvisedCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  (count(DISTINCT $c) * 1000000 // count(*))::BIGINT
         |    AS distinct_ratio_ticks,
         |  sum(rs_$c)::BIGINT AS n_runs,
         |  (CASE WHEN sum(rs_$c) = 0 THEN 0
         |    ELSE count(*) * 1000000 // sum(rs_$c) END)::BIGINT
         |    AS avg_run_ticks
         |FROM f""".stripMargin
    }.mkString("\nUNION ALL\n")
    val flags = AdvisedCols.map { c =>
      s"""(CASE WHEN lag($c) OVER (PARTITION BY l_orderkey
         |    ORDER BY ${CanonicalOrder.mkString(", ")})
         |    IS DISTINCT FROM $c
         |  THEN 1 ELSE 0 END) AS rs_$c""".stripMargin
    }.mkString(",\n  ")
    s"""WITH b AS (SELECT *, month(l_shipdate)::BIGINT AS l_shipmode_sub
       |  FROM lineitem),
       | f AS (SELECT *,
       |  $flags
       |  FROM b),
       | u AS ($arms)
       |SELECT *, (CASE
       |  WHEN distinct_ratio_ticks <= $dictMaxRatioTicks
       |    AND avg_run_ticks >= $rleMinAvgRunTicks THEN 'dict_rle'
       |  WHEN distinct_ratio_ticks <= $dictMaxRatioTicks THEN 'dict'
       |  WHEN avg_run_ticks >= $rleMinAvgRunTicks THEN 'rle'
       |  ELSE 'plain' END) AS recommendation
       |FROM u ORDER BY u.col_name""".stripMargin
  }

  /** Q143 — z-order profile of `lineitem` on (l_orderkey,
    * l_partkey): the two keys ad-hoc scans actually filter by.
    */
  def q143ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    zorderProfile(graft.core.Tables.load(spark, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey"),
      "l_orderkey", "l_partkey")
      .orderBy($"bucket")
  }

  /** DuckDB oracle for [[q143ZorderLayout]] — same quantize, the
    * same spread steps layered through CTE columns, same bucket
    * division and profile agg.
    */
  def zorderOracleSql(qbits: Int = 16, nBuckets: Int = 64): String = {
    val maxQ = (1L << qbits) - 1L
    val spreadCtes = (0 until MortonSpreadSteps.size).map { i =>
      s""" m${i + 1} AS (SELECT *,
         |    ${spreadStepSql(s"sa$i", i)} AS sa${i + 1},
         |    ${spreadStepSql(s"sb$i", i)} AS sb${i + 1} FROM m$i)"""
        .stripMargin
    }.mkString(",\n")
    val n = MortonSpreadSteps.size
    s"""WITH b AS (SELECT min(l_orderkey)::BIGINT AS mina,
       |    max(l_orderkey)::BIGINT AS maxa,
       |    min(l_partkey)::BIGINT AS minb,
       |    max(l_partkey)::BIGINT AS maxb FROM lineitem),
       | m0 AS (SELECT l_orderkey, l_partkey,
       |    (CASE WHEN maxa = mina THEN 0
       |     ELSE (l_orderkey - mina) * $maxQ // (maxa - mina) END) AS sa0,
       |    (CASE WHEN maxb = minb THEN 0
       |     ELSE (l_partkey - minb) * $maxQ // (maxb - minb) END) AS sb0
       |  FROM lineitem CROSS JOIN b),
       |$spreadCtes,
       | z AS (SELECT l_orderkey, l_partkey,
       |    (sa$n | (sb$n << 1)) AS zkey FROM m$n)
       |SELECT (zkey * $nBuckets // ${1L << (2 * qbits)})::BIGINT AS bucket,
       |  count(*)::BIGINT AS n_rows,
       |  min(l_orderkey)::BIGINT AS min_l_orderkey,
       |  max(l_orderkey)::BIGINT AS max_l_orderkey,
       |  min(l_partkey)::BIGINT AS min_l_partkey,
       |  max(l_partkey)::BIGINT AS max_l_partkey
       |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
  }
}
