package graft.compile

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.types._

import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite

/**
 * Constraint-suite bootstrapping: profile an existing table and emit a
 * DSL [[ConstraintSuite]] that encodes what the data already satisfies
 * — the "switching user"'s first step when they have a 10^12-row table
 * and no schema document yet (the reference assumes the JSON Schema
 * exists, `SchemaCompiler.java:38-40`; at table scale the schema is
 * usually DERIVED first and then tightened by hand).
 *
 * Two passes, both scale-shaped:
 *  - [[profile]] pass 1: ONE fused aggregation over the table (null
 *    counts, exact distinct counts, numeric bounds, string-length and
 *    array-size bounds, array-element bounds) — identical shuffle shape
 *    to [[graft.checks.ColumnStats.profile]] (map-side partial
 *    aggregation, one exchange). Distinct counts are exact
 *    (`countDistinct`), so the DuckDB oracle replays them
 *    value-for-value.
 *  - pass 2 collects sorted distinct values ONLY for columns pass 1
 *    proved low-cardinality (`n_distinct <= enumMax`), so the unbounded
 *    `collect_set` memory hazard on high-cardinality columns (doc_id at
 *    10^12 rows) is impossible by construction. Skipped entirely when
 *    no column qualifies.
 *
 * The profile is a TALL frame (one row per column) so it joins, stores,
 * and diffs naturally; [[suggest]] folds it into a suite: `NotNull`
 * for never-null columns, `IsIn` for enum candidates, `Bounds` for
 * numerics, `LengthBounds` for strings, `SizeBounds` + element `Bounds`
 * for numeric arrays. The suggested suite validates the profiled table
 * with zero violations BY CONSTRUCTION (every bound was observed).
 */
object SuiteSuggest {

  /** Tall profile schema: one row per source column. Stats that do not
    * apply to a column's type are null. */
  val profileSchema: StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("null_count", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = true),
    StructField("min_num", DoubleType, nullable = true),
    StructField("max_num", DoubleType, nullable = true),
    StructField("elem_min", DoubleType, nullable = true),
    StructField("elem_max", DoubleType, nullable = true),
    StructField("len_min", LongType, nullable = true),
    StructField("len_max", LongType, nullable = true),
    StructField("enum_vals", StringType, nullable = true)))

  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType => true
    case _ => false
  }

  def profile(df: DataFrame, enumMax: Int = 16): DataFrame = {
    require(enumMax >= 0, s"enumMax must be >= 0, got $enumMax")
    val fields = df.schema.fields.toSeq
    val aggs = Seq.newBuilder[Column]
    aggs += F.count(F.lit(1)).as("__rows")
    fields.foreach { f =>
      val c = F.col(f.name); val n = f.name
      aggs += F.sum(F.when(c.isNull, 1L).otherwise(0L)).as(s"${n}__nulls")
      if (isAtomic(f.dataType))
        aggs += F.countDistinct(c).as(s"${n}__nd")
      f.dataType match {
        case _: NumericType =>
          aggs += F.min(c.cast("double")).as(s"${n}__min")
          aggs += F.max(c.cast("double")).as(s"${n}__max")
        case StringType =>
          aggs += F.min(F.length(c)).cast("long").as(s"${n}__lmin")
          aggs += F.max(F.length(c)).cast("long").as(s"${n}__lmax")
        case ArrayType(_: NumericType, _) =>
          aggs += F.min(F.array_min(c)).cast("double").as(s"${n}__emin")
          aggs += F.max(F.array_max(c)).cast("double").as(s"${n}__emax")
          aggs += F.min(F.size(c)).cast("long").as(s"${n}__lmin")
          aggs += F.max(F.size(c)).cast("long").as(s"${n}__lmax")
        case _ => ()
      }
    }
    val a = aggs.result()
    val r = df.agg(a.head, a.tail: _*).head()
    def opt[T](name: String): Option[T] =
      if (!r.schema.names.contains(name)) None
      else {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) None else Some(r.getAs[T](i))
      }
    val nRows = r.getAs[Long]("__rows")

    // pass 2: enum candidates, restricted to the columns pass 1 proved
    // small; string-cast so mixed types serialize uniformly (IsIn's
    // own comparison contract). A value containing the list separator
    // would make the joined form ambiguous — such columns are dropped
    // from enum candidacy rather than emitted broken.
    val enumCols = fields.filter(f => isAtomic(f.dataType) &&
      opt[Long](s"${f.name}__nd").exists(nd => nd > 0 && nd <= enumMax))
    val enumVals: Map[String, String] =
      if (enumCols.isEmpty) Map.empty
      else {
        val ea = enumCols.map(f =>
          F.sort_array(F.collect_set(F.col(f.name).cast("string")))
            .as(s"${f.name}__enum"))
        val er = df.agg(ea.head, ea.tail: _*).head()
        enumCols.flatMap { f =>
          val vs = er.getSeq[String](er.fieldIndex(s"${f.name}__enum"))
          if (vs.exists(_.contains(","))) None
          else Some(f.name -> vs.mkString(","))
        }.toMap
      }

    def box[T](o: Option[T]): Any = o match {
      case Some(v) => v
      case None => null
    }
    val rows = fields.map { f =>
      val n = f.name
      Row(n, f.dataType.simpleString, nRows, r.getAs[Long](s"${n}__nulls"),
        box(opt[Long](s"${n}__nd")),
        box(opt[Double](s"${n}__min")), box(opt[Double](s"${n}__max")),
        box(opt[Double](s"${n}__emin")), box(opt[Double](s"${n}__emax")),
        box(opt[Long](s"${n}__lmin")), box(opt[Long](s"${n}__lmax")),
        enumVals.get(n).orNull)
    }
    val jrows = new java.util.ArrayList[Row](rows.size)
    rows.foreach(jrows.add)
    df.sparkSession.createDataFrame(jrows, profileSchema)
  }

  /** Fold a [[profile]] result into a [[ConstraintSuite]]. Driver-side
    * over the tall frame (one row per column — bounded by the schema
    * width, never by the data). */
  def suggestFromProfile(profileRows: Seq[Row],
      suiteId: String): ConstraintSuite = {
    val cs = Seq.newBuilder[graft.dsl.Constraint]
    profileRows.foreach { p =>
      val col = p.getAs[String]("column")
      val dtype = p.getAs[String]("dtype")
      def optD(n: String) = Option(p.getAs[java.lang.Double](n))
        .map(d => BigDecimal(d.doubleValue()))
      def optL(n: String) = Option(p.getAs[java.lang.Long](n))
        .map(_.intValue())
      if (p.getAs[Long]("null_count") == 0L)
        cs += NotNull(s"$col.not_null", col)
      Option(p.getAs[String]("enum_vals")) match {
        case Some(ev) =>
          cs += IsIn(s"$col.enum", col, ev.split(",", -1).toSeq)
        case None =>
          if (dtype != "string" && (optD("min_num").isDefined ||
              optD("max_num").isDefined))
            cs += Bounds(s"$col.bounds", col,
              optD("min_num"), optD("max_num"))
          if (dtype == "string" &&
              (optL("len_min").isDefined || optL("len_max").isDefined))
            cs += LengthBounds(s"$col.length", col,
              optL("len_min"), optL("len_max"))
      }
      if (dtype.startsWith("array")) {
        if (optL("len_min").isDefined || optL("len_max").isDefined)
          cs += SizeBounds(s"$col.size", col,
            optL("len_min"), optL("len_max"))
        if (optD("elem_min").isDefined || optD("elem_max").isDefined)
          cs += EachElement(s"$col.items", col,
            Bounds(s"$col.items.bounds", "$",
              optD("elem_min"), optD("elem_max")))
      }
    }
    val out = cs.result()
    require(out.nonEmpty,
      "profile suggests nothing — no column had a usable statistic")
    ConstraintSuite(suiteId, out)
  }

  /** One-call form: profile `df` and emit the suggested suite. */
  def suggest(df: DataFrame, suiteId: String = "suggested",
      enumMax: Int = 16): ConstraintSuite =
    suggestFromProfile(profile(df, enumMax).collect().toSeq, suiteId)
}
