package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Range-clustering a collection on ONE column gives its segments narrow
  * min/max on that column only — filters on any other column prune
  * nothing. Interleaving the bits of several columns' normalized values
  * produces a single sort key whose ranges are small HYPER-RECTANGLES:
  * every clustered column gets usably narrow per-segment min/max, so
  * manifest stats prune segments for filters on ANY of them. This is the
  * standard lakehouse layout tool (Delta/Iceberg OPTIMIZE ZORDER BY) for
  * multi-predicate workloads at scale.
  *
  * The z-value is pure per-row expression work over broadcast min/max
  * literals (one tiny agg job to fetch them); the only shuffle is the
  * final range repartition — exactly what any layout rewrite pays.
  */
object LayoutOps {

  private val Bits = 16 // 16 bits per dimension, up to 4 dims in one long

  /** Normalized [0, 2^16) bucket of a numeric column given global min/max. */
  private def bucket(c: Column, mn: Double, mx: Double): Column = {
    val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
    least(greatest((c.cast("double") - lit(mn)) / lit(span) * lit(65535.0),
      lit(0.0)), lit(65535.0)).cast("long")
  }

  /** A STRING column as an orderable number: its first four UTF-8 bytes
    * LEFT-JUSTIFIED in a 32-bit unsigned value (hex of the byte prefix,
    * right-padded with zeros — padding is what keeps the map monotone for
    * variable-length strings: "b" must sort above "aa", so a short prefix
    * takes the smallest value of its extensions). Lexicographically close
    * strings (same domain, same language tag, same URL prefix) get close
    * values, so after the shared min/max normalization per-segment min/max
    * on the STRING column itself stays narrow — exactly what corpus-
    * curation filters on domain/lang need. Empty strings map to 0; NULLs
    * stay NULL (they sort first, together). */
  private def stringPrefix(c: Column): Column =
    when(c.isNull, lit(null).cast("long"))
      .otherwise(
        conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 4)), 8, "0"), 16, 10)
          .cast("long"))

  /** Morton-interleave up to 4 pre-bucketed [0, 2^16) dimensions into one
    * long: bit i of column j lands at position i*n + j, so consecutive z
    * values stay inside small axis-aligned boxes of the value space. */
  private def interleave(buckets: Seq[Column]): Column = {
    val n = buckets.length
    buckets.zipWithIndex.map { case (b, j) =>
      aggregate(sequence(lit(0), lit(Bits - 1)), lit(0L),
        (acc, i) => acc.bitwiseOR(
          call_function("shiftleft",
            call_function("shiftright", b, i).bitwiseAND(lit(1L)),
            i * n + j)))
    }.reduce(_ bitwiseOR _)
  }

  /** Rewrite `df` into a z-ordered layout frame: range-partitioned and
    * sorted by the interleaved key (dropped before returning — it is
    * transport, not data). Every dimension — numeric directly, strings
    * through the monotone [[stringPrefix]] value — is min/max-normalized
    * from one tiny agg job, so a narrow realistic band (all domains under
    * ".com", all ascii-lowercase lang tags) still spreads over the full
    * 16-bit bucket range instead of wasting interleave bits on constant
    * prefixes. Null cluster values sort first, together. */
  def zOrderBy(df: DataFrame, colNames: Seq[String], numPartitions: Int): DataFrame = {
    require(colNames.nonEmpty && colNames.length <= 4, "z-order supports 1-4 columns")
    val dims: Seq[Column] = colNames.map { c =>
      if (df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
        stringPrefix(col(c)).cast("double")
      else col(c).cast("double")
    }
    val aggs = dims.flatMap(d => Seq(min(d), max(d)))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // min/max are NULL for an empty frame or an all-NULL column; getDouble
    // would throw a bare NPE from inside Collection.cluster(). Name the
    // offending column instead.
    colNames.zipWithIndex.foreach { case (c, i) =>
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"z-order column '$c' has no non-null values (empty collection?)")
    }
    val buckets = dims.zipWithIndex.map { case (d, i) =>
      bucket(d, row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }
    df.withColumn("__z", interleave(buckets))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
