package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap
import graft.expr.NumpyExpr

/** Table-level metadata carried alongside a DataFrame: header key/values,
  * alias map, per-column units and descriptions, caseless name resolution.
  * Mirrors the metadata slots of the reference's SimpleTable
  * (ezdata/simpletable.py:1453–1460) as an immutable value.
  */
final case class EzMeta(
    // alias -> physical column.  INSERTION-ordered BY TYPE (the
    // reference's _aliases is a dict): under caseless resolution the
    // LAST-defined of two caselessly-colliding alias keys wins, so
    // the map's iteration order is contract, not cosmetics — hence
    // ListMap in the signature, not Map-with-a-ListMap-default, so a
    // caller constructing EzMeta(aliases = ...) cannot silently hand
    // in an unordered HashMap.  setAlias preserves the order
    // (redefinition updates in place, dict-style).
    header: ListMap[String, String] = ListMap.empty,
    aliases: ListMap[String, String] = ListMap.empty,
    units: Map[String, String] = Map.empty,
    comments: Map[String, String] = Map.empty,
    caseless: Boolean = false) {

  /** Drop aliases whose target column no longer exists
    * (ezdata/simpletable.py:1981–1984 `_clean_orphan_aliases`). */
  def pruneFor(columns: Seq[String]): EzMeta = {
    val cols = columns.toSet
    copy(
      aliases = aliases.filter { case (_, target) => cols.contains(target) },
      units = units.view.filterKeys(cols.contains).toMap,
      comments = comments.view.filterKeys(cols.contains).toMap)
  }
}

/** Immutable analytic frame: a Spark DataFrame + ezdata-style metadata.
  *
  * Every mutating API of the reference (`sort`, `add_column`,
  * `rename_columns`, `stack(inplace=True)`, …) is a fluent immutable op
  * here (SURVEY.md §7.1.4).  All query semantics compile to declarative
  * DataFrame transformations so Catalyst performs pushdown/pruning.
  */
final class EzFrame(val df: DataFrame, val meta: EzMeta) {

  def spark: SparkSession = df.sparkSession
  def columns: Seq[String] = df.columns.toSeq

  /** SQL-text escapes for generated selectExpr fragments: a column
    * name carrying a quote or backtick must not break the built SQL. */
  private def sqlStr(v: String): String = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
  private def sqlId(v: String): String = "`" + v.replace("`", "``") + "`"
  def schema: StructType = df.schema

  private def withDf(d: DataFrame): EzFrame = new EzFrame(d, meta.pruneFor(d.columns.toSeq))
  private def withMeta(m: EzMeta): EzFrame = new EzFrame(df, m)

  // ----------------------------------------------------------- name resolution
  /** alias → physical name, with the reference's EXACT resolution
    * order (ezdata/simpletable.py:2002–2019, property-pinned in
    * AliasResolutionPropertySpec):
    *
    *  - non-caseless: `aliases.get(name, name)` — an alias key that
    *    SHADOWS a physical column resolves to the alias target (the
    *    reference places no column-first check here);
    *  - caseless: ONE lowercase map is built aliases-first and then
    *    overwritten by the physical columns, so a caseless column
    *    collision beats ANY alias — even an exact-case alias match —
    *    and among colliding alias keys the LAST defined wins (dict
    *    build order; aliases is insertion-ordered, see [[EzMeta]]).
    */
  def resolveAlias(name: String): String =
    if (meta.caseless) caselessMap.getOrElse(name.toLowerCase, name)
    else meta.aliases.getOrElse(name, name)

  /** The merged caseless resolution map, built ONCE per frame (EzFrame
    * is immutable, so aliases and columns never change under it):
    * aliases first in insertion order, then the physical columns
    * overriding.  Memoized per the r17 review — a wide frame resolving
    * many names otherwise paid O(cols+aliases) per lookup — and it
    * makes the resolution order a constructed-once artifact the
    * property spec can probe directly.
    *
    * CONTRACT for caseless-COLLIDING physical columns ("Vmag"/"vmag"):
    * the reference's recarray allows such schemas and its resolver
    * simply maps both lowercase keys to the LAST column in order
    * (dict overwrite); this map reproduces that, so NAME resolution
    * (resolveAlias/keys) works on colliding frames.  Column ACCESS
    * (get/select/evalexpr) then goes through Spark's resolver, which
    * under the default spark.sql.caseSensitive=false throws
    * AMBIGUOUS_REFERENCE — pinned in AliasResolutionPropertySpec; a
    * user with such data must rename or enable case sensitivity. */
  private lazy val caselessMap: Map[String, String] = {
    val m = collection.mutable.LinkedHashMap.empty[String, String]
    meta.aliases.foreach { case (k, v) => m(k.toLowerCase) = v }
    df.columns.foreach(c => m(c.toLowerCase) = c)
    m.toMap
  }

  def reverseAlias(physical: String): Seq[String] =
    meta.aliases.collect { case (a, t) if t == physical => a }.toSeq

  /** Regex / multi-pattern column selection (ezdata/simpletable.py:2055–2109):
    * patterns are space- or comma-separated, matched with full-match
    * semantics, and alias names participate. `*` alone means all columns. */
  def keys(patterns: String): Seq[String] = {
    val pats = patterns.split("[ ,]+").filter(_.nonEmpty)
    if (pats.isEmpty || pats.sameElements(Array("*"))) columns
    else {
      val names = columns ++ meta.aliases.keys
      val out = pats.toSeq.flatMap { p =>
        if (names.contains(p)) Seq(resolveAlias(p))
        else {
          // only '*' is a wildcard; every other character is literal —
          // a column pattern like "a+b" must not become a regex '+'
          val rx = ("^" + p.split("\\*", -1).map(java.util.regex.Pattern.quote)
            .mkString(".*") + "$").r
          names.filter(n => rx.findFirstIn(n).isDefined).map(resolveAlias)
        }
      }
      out.distinct
    }
  }

  // ----------------------------------------------------------- metadata ops
  def setAlias(alias: String, column: String): EzFrame = {
    require(df.columns.contains(column), s"alias target '$column' does not exist")
    // dict-style redefinition: an existing key keeps its ORIGINAL
    // position (Python dict update semantics — position feeds the
    // caseless last-wins rule), a new key appends
    val updated =
      if (meta.aliases.contains(alias))
        meta.aliases.map { case (k, v) => k -> (if (k == alias) column else v) }
      else meta.aliases + (alias -> column)
    withMeta(meta.copy(aliases = updated))
  }
  def setUnit(column: String, unit: String): EzFrame =
    withMeta(meta.copy(units = meta.units + (resolveAlias(column) -> unit)))
  def setComment(column: String, comment: String): EzFrame =
    withMeta(meta.copy(comments = meta.comments + (resolveAlias(column) -> comment)))
  def setHeader(key: String, value: String): EzFrame =
    withMeta(meta.copy(header = meta.header + (key -> value)))

  // ----------------------------------------------------------- expressions
  /** Compile a NumPy-surface expression string to a Column; identifiers
    * resolve through the alias map (ezdata/simpletable.py:2710–2747). */
  def evalexpr(expression: String, exprvars: Map[String, Any] = Map.empty): Column = {
    val ast = NumpyExpr.parse(expression)
    NumpyExpr.compile(ast, resolveTyped, exprvars).col
  }

  private def resolveTyped(name: String): Option[NumpyExpr.Typed] = {
    val physical = resolveAlias(name)
    // the ONE DataType -> Ty mapping lives in NumpyExpr (a second
    // hand-kept copy here could drift and change how '&|^~' and
    // NaN-aware comparisons compile for a type)
    schema.fields.find(_.name == physical).map { f =>
      NumpyExpr.Typed(df.col(physical), NumpyExpr.tyOf(f.dataType))
    }
  }

  // ----------------------------------------------------------- query surface
  /** Project columns (regex patterns + aliases). */
  def select(fields: String): EzFrame = withDf(df.select(keys(fields).map(df.col): _*))
  def select(cols: Column*): EzFrame = withDf(df.select(cols: _*))

  /** Rows satisfying a NumPy-style predicate (ezdata/simpletable.py:2749). */
  def where(condition: String, condvars: Map[String, Any] = Map.empty): EzFrame =
    withDf(df.filter(evalexpr(condition, condvars)))

  /** Project + filter in one call; condition of True/"True"/null means
    * no filtering (ezdata/simpletable.py:2815–2844). */
  def selectWhere(fields: String, condition: String, condvars: Map[String, Any] = Map.empty): EzFrame = {
    val base =
      if (condition == null || condition.trim.isEmpty || condition.trim == "True") df
      else df.filter(evalexpr(condition, condvars))
    withDf(base.select(keys(fields).map(df.col): _*))
  }

  def get(key: String): Column = df.col(resolveAlias(key))

  /** Multi-key sort; `desc` applies to all keys like the reference's
    * `reverse` flag (ezdata/simpletable.py:2357, dictdataframe.py:483). */
  def sort(keysStr: String, desc: Boolean = false): EzFrame = {
    val ks = keys(keysStr).map(k => if (desc) df.col(k).desc else df.col(k).asc)
    withDf(df.orderBy(ks: _*))
  }

  def limit(n: Int): EzFrame = withDf(df.limit(n))

  /** Add a computed column from a NumPy expression or Column. */
  def addColumn(name: String, expression: String): EzFrame =
    withDf(df.withColumn(name, evalexpr(expression)))
  def addColumn(name: String, c: Column): EzFrame = withDf(df.withColumn(name, c))

  def drop(fields: String): EzFrame = withDf(df.drop(keys(fields): _*))

  def rename(mapping: (String, String)*): EzFrame = {
    val d = mapping.foldLeft(df) { case (acc, (from, to)) =>
      val physical = resolveAlias(from)
      // withColumnRenamed onto an EXISTING name silently yields two
      // columns with the same name — every later reference is ambiguous
      require(to == physical || !acc.columns.contains(to),
        s"rename: target '$to' already exists — drop or rename it first")
      acc.withColumnRenamed(physical, to)
    }
    // keep aliases pointing at the renamed physical columns — following
    // CHAINS end-to-end: rename(a->b, b->c) moves column 'a' to 'c',
    // and a one-step map would point a's metadata at the intermediate
    // 'b', which pruneFor below then silently drops.  The tracker
    // replays the fold's own steps (same resolveAlias per step) so the
    // metadata mapping matches the column mapping exactly.
    val renames: Map[String, String] = {
      var track = df.columns.map(c => c -> c).toMap
      mapping.foreach { case (from, to) =>
        val cur = resolveAlias(from)
        track = track.map { case (o, c) => o -> (if (c == cur) to else c) }
      }
      track.filter { case (o, c) => o != c }
    }
    val newAliases = meta.aliases.map { case (a, t) => a -> renames.getOrElse(t, t) }
    // units/comments key on the PHYSICAL name — remap them too, or
    // pruneFor would silently drop the renamed columns' metadata
    val newUnits = meta.units.map { case (k, v) => renames.getOrElse(k, k) -> v }
    val newComments = meta.comments.map { case (k, v) => renames.getOrElse(k, k) -> v }
    new EzFrame(d, meta.copy(aliases = newAliases, units = newUnits, comments = newComments)
      .pruneFor(d.columns.toSeq))
  }

  // ----------------------------------------------------------- relational
  /** Equi join with ezdata's surface (ezdata/simpletable.py:2426–2553):
    * join keys may be *expressions* evaluated on both sides; name
    * collisions get lsuffix/rsuffix. Duplicate keys follow standard SQL
    * multiplicity (documented deviation, SURVEY.md §7.1.5).
    */
  def join(other: EzFrame, on: String = null, leftOn: String = null, rightOn: String = null,
           lsuffix: String = "_l", rsuffix: String = "_r", how: String = "left_outer"): EzFrame = {
    val lk = Option(leftOn).getOrElse(on)
    val rk = Option(rightOn).getOrElse(on)
    require(lk != null && rk != null, "join requires `on` or both leftOn/rightOn")
    val overlap = df.columns.toSet.intersect(other.df.columns.toSet)
    // Expression keys are evaluated against the ORIGINAL column names
    // (before suffix renaming), matching the reference where the key
    // expression is evalexpr'ed on each side (simpletable.py:2507).
    val keyCol = "_graft_join_key"
    // withColumn REPLACES an existing column of the same name — a user
    // column spelled like the internal key would be silently clobbered
    require(!df.columns.contains(keyCol) && !other.df.columns.contains(keyCol),
      s"join: '$keyCol' is reserved for the internal join key; rename that column first")
    def withKey(f: EzFrame, k: String): DataFrame =
      if (f.df.columns.contains(f.resolveAlias(k))) f.df.withColumn(keyCol, f.df.col(f.resolveAlias(k)))
      else f.df.withColumn(keyCol, f.evalexpr(k))
    val lKeyed = withKey(this, lk)
    val rKeyed = withKey(other, rk)
    val lRenamed = overlap.foldLeft(lKeyed)((d, c) => d.withColumnRenamed(c, c + lsuffix))
    val rRenamed = overlap.foldLeft(rKeyed)((d, c) => d.withColumnRenamed(c, c + rsuffix))
    // suffixing an overlap column onto an EXISTING name (left has
    // {x, x_l}, right has {x}) silently yields two 'x_l' columns and
    // every later reference throws AMBIGUOUS_REFERENCE far from the
    // join that caused it — fail here, at the cause
    Seq(("l", lsuffix, lRenamed), ("r", rsuffix, rRenamed)).foreach { case (side, sfx, d) =>
      val dups = d.columns.groupBy(identity).collect { case (c, hits) if hits.length > 1 => c }
      require(dups.isEmpty,
        s"join: suffixing overlap columns with '$sfx' collides with existing " +
          s"$side-side column(s) ${dups.mkString(", ")} — rename them or pick other suffixes")
    }
    val joined = lRenamed.alias("l")
      .join(rRenamed.alias("r"), col(s"l.$keyCol") === col(s"r.$keyCol"), how)
      .drop(keyCol)
    // units/comments key on PHYSICAL names: overlap columns were just
    // suffixed, so their metadata keys must follow (the rename()
    // discipline) or pruneFor drops every overlapping column's metadata
    def remapMeta(m: Map[String, String], sfx: String): Map[String, String] =
      m.map { case (k, v) => (if (overlap.contains(k)) k + sfx else k) -> v }
    new EzFrame(joined, EzMeta(
      header = meta.header ++ other.meta.header,
      units = remapMeta(meta.units, lsuffix) ++ remapMeta(other.meta.units, rsuffix),
      comments = remapMeta(meta.comments, lsuffix) ++ remapMeta(other.meta.comments, rsuffix),
      caseless = meta.caseless).pruneFor(joined.columns.toSeq))
  }

  /** Index-pair equi match (ezdata/simpletable.py:2381–2398) — expressed
    * as a distributed inner join instead of `np.equal.outer` (O(n·m)). */
  def matchOn(other: EzFrame, key: String, otherKey: String = null): DataFrame = {
    val rk = Option(otherKey).getOrElse(key)
    df.select(df.col(resolveAlias(key)).as("_lkey"))
      .join(other.df.select(other.df.col(other.resolveAlias(rk)).as("_rkey")), col("_lkey") === col("_rkey"), "inner")
  }

  /** Vertical concat with missing-column defaults
    * (ezdata/simpletable.py:2400–2424 `stack_arrays` + defaults).
    * Defaults fill ONLY the side a column is missing from —
    * numpy's stack_arrays fills masked (absent) fields; a genuine
    * null/NaN in a column present on both sides is data and survives
    * (a whole-union na.fill would silently overwrite it).
    *
    * The injected default is CAST to the present side's column type,
    * so a compatible-but-differently-typed default (e.g. `0` for a
    * double column) unions cleanly; a genuinely incompatible default
    * (e.g. a non-numeric string for a numeric column) fails loudly at
    * the ANSI cast instead of a type-mismatch error deep inside
    * unionByName analysis. */
  def stack(other: EzFrame, defaults: Map[String, Any] = Map.empty): EzFrame = {
    def addMissing(d: DataFrame, donor: DataFrame, missing: Set[String]): DataFrame =
      defaults.filter { case (c, _) => missing.contains(c) }
        .foldLeft(d) { case (acc, (c, v)) =>
          acc.withColumn(c, lit(v).cast(donor.schema(c).dataType)) }
    val l = addMissing(df, other.df, other.df.columns.toSet -- df.columns.toSet)
    val r = addMissing(other.df, df, df.columns.toSet -- other.df.columns.toSet)
    withDf(l.unionByName(r, allowMissingColumns = true))
  }

  /** Whole-row duplicate detection (ezdata/simpletable.py:2691–2708) as a
    * hash groupBy, not the reference's O(n²) scan. */
  def findDuplicate(fields: String = "*"): DataFrame = {
    val ks = keys(fields)
    df.groupBy(ks.map(df.col): _*).count().filter(col("count") > 1)
  }

  def distinct(fields: String = "*"): EzFrame =
    withDf(df.select(keys(fields).map(df.col): _*).distinct())

  // ----------------------------------------------------------- aggregation
  /** Nan-aware per-column statistics, unpivoted to one row per column
    * (ezdata/simpletable.py:2877–2929).  `mode="extended"` adds variance
    * and the 16/50/84 percentiles (ezdata/simpletable.py:3241–3257).
    * NaNs are normalized to null first so Spark's null-ignoring
    * aggregates reproduce the reference's nanmean/nanstd family. */
  /** Per-column summary statistics.  `exactPercentiles` switches the
    * extended p16/p50/p84 from `percentile_approx` (bounded memory,
    * the 100 TB default) to exact `percentile` via one array-percentile
    * aggregate per column — exact buffers every value of the column in
    * the final reduce, so reserve it for bounded inputs (it is what the
    * reference's numpy percentile computes; q31 gates it). */
  def stats(fields: String = "*", extended: Boolean = false,
            exactPercentiles: Boolean = false): DataFrame = {
    val numeric = keys(fields).filter { k =>
      schema(k).dataType match {
        case _: NumericType => true
        case _ => false
      }
    }
    // ONE scan: every column's aggregates computed in a single agg job,
    // then the 1-row result unpivoted with stack().  The per-column
    // agg-then-union alternative re-scans the input once per column —
    // untenable at large inputs.
    val statNames = Seq("mean", "std", "min", "max", "has_nan") ++
      (if (extended) Seq("variance", "p16", "p50", "p84") else Seq.empty)
    val aggExprs = numeric.flatMap { k =>
      val c0 = df.col(k).cast(DoubleType)
      val c = when(isnan(c0), lit(null)).otherwise(c0) // NaN -> null normalization
      Seq(
        avg(c).as(s"${k}__mean"),
        stddev_samp(c).as(s"${k}__std"),
        min(c).as(s"${k}__min"),
        max(c).as(s"${k}__max"),
        max(isnan(c0) || c0.isNull).cast(DoubleType).as(s"${k}__has_nan")) ++
        (if (extended && exactPercentiles) Seq(
          var_samp(c).as(s"${k}__variance"),
          element_at(percentile(c, array(lit(0.16), lit(0.5), lit(0.84))), 1).as(s"${k}__p16"),
          element_at(percentile(c, array(lit(0.16), lit(0.5), lit(0.84))), 2).as(s"${k}__p50"),
          element_at(percentile(c, array(lit(0.16), lit(0.5), lit(0.84))), 3).as(s"${k}__p84"))
        else if (extended) Seq(
          var_samp(c).as(s"${k}__variance"),
          percentile_approx(c, lit(0.16), lit(10000)).as(s"${k}__p16"),
          percentile_approx(c, lit(0.5), lit(10000)).as(s"${k}__p50"),
          percentile_approx(c, lit(0.84), lit(10000)).as(s"${k}__p84")) else Seq.empty)
    }
    require(numeric.nonEmpty,
      s"stats: no numeric column matches '$fields' — nothing to aggregate")
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val stackArgs = numeric.map { k =>
      (sqlStr(k) +: statNames.map(s => sqlId(s"${k}__$s"))).mkString(", ")
    }.mkString(", ")
    one.selectExpr(
        s"stack(${numeric.length}, $stackArgs) as (column, ${statNames.mkString(", ")})")
      .withColumn("has_nan", col("has_nan") === 1.0)
  }

  def groupby(keysStr: String): org.apache.spark.sql.RelationalGroupedDataset =
    df.groupBy(keys(keysStr).map(df.col): _*)

  /** Per-group *table* iteration (`for k, sub in t.groupby(key)`,
    * ezdata/simpletable.py:2846–2875) — the group list is one distinct
    * query; each sub-frame stays a lazy filtered plan (nothing is
    * collected).  For many groups prefer [[aggregate]] or
    * [[flatMapGroups]]; this surface exists for facet-style consumers
    * with a bounded group count. */
  def groupbyIter(keysStr: String, maxGroups: Int = 1000): Seq[(Any, EzFrame)] = {
    val ks = keys(keysStr)
    require(ks.length == 1, "groupbyIter takes exactly one key")
    val k = ks.head
    val values = df.select(df.col(k)).distinct().orderBy(df.col(k)).limit(maxGroups + 1).collect()
    require(values.length <= maxGroups, s"more than $maxGroups groups; use aggregate/flatMapGroups")
    values.toSeq.map { r =>
      val v = r.get(0)
      v -> new EzFrame(df.filter(df.col(k) <=> lit(v)), meta)
    }
  }

  /** Pluggable per-column statistics (`t.stats(fn)`,
    * ezdata/simpletable.py:2877–2929 with stats classmethods): the
    * caller names each statistic and how to build it; one scan. */
  def statsWith(fields: String, fns: Seq[(String, Column => Column)]): DataFrame = {
    val numeric = keys(fields).filter(k => schema(k).dataType.isInstanceOf[NumericType])
    val aggExprs = numeric.flatMap { k =>
      val c = df.col(k).cast(DoubleType)
      fns.map { case (n, f) => f(c).cast(DoubleType).as(s"${k}__$n") }
    }
    require(numeric.nonEmpty,
      s"statsWith: no numeric column matches '$fields' — nothing to aggregate")
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val statNames = fns.map(_._1)
    val stackArgs = numeric.map { k =>
      (sqlStr(k) +: statNames.map(s => sqlId(s"${k}__$s"))).mkString(", ")
    }.mkString(", ")
    one.selectExpr(s"stack(${numeric.length}, $stackArgs) as (column, ${statNames.mkString(", ")})")
  }

  /** `aggregate(func, keys)` surface (ezdata/dictdataframe.py:578–599):
    * reducible case — named agg Columns per group. */
  def aggregate(keysStr: String, aggs: Column*): EzFrame =
    withDf(df.groupBy(keys(keysStr).map(df.col): _*).agg(aggs.head, aggs.tail: _*))

  /** `aggregate(func, keys)` with an *arbitrary* per-group function —
    * the reference's per-group escape hatch (ezdata/dictdataframe.py:
    * 578–599 applies any Python callable to each sub-frame).  Typed
    * Spark surface: groups shuffle once, `f` sees each group's rows as
    * an iterator and yields output rows for `outSchema`. */
  def flatMapGroups(keysStr: String, outSchema: StructType)(
      f: (Seq[Any], Iterator[org.apache.spark.sql.Row]) => Iterator[org.apache.spark.sql.Row]): DataFrame = {
    val ks = keys(keysStr)
    val keyIdx = ks.map(k => df.columns.indexOf(k))
    implicit val keyEnc = org.apache.spark.sql.Encoders.kryo[Seq[Any]]
    df.groupByKey(row => keyIdx.map(row.get): Seq[Any])
      .flatMapGroups((k, it) => f(k, it))(org.apache.spark.sql.Encoders.row(outSchema))
  }

  // ----------------------------------------------------------- misc
  /** NaN → null normalization at the ingest boundary (SURVEY.md §7.1.1). */
  def nanToNull(): EzFrame = {
    val cols = schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          when(isnan(df.col(f.name)), lit(null)).otherwise(df.col(f.name)).as(f.name)
        case _ => df.col(f.name)
      }
    }
    withDf(df.select(cols.toSeq: _*))
  }

  /** 1-row append (ezdata/simpletable.py:2631–2647) — supported for
    * parity; a hot loop of these is an anti-pattern on Spark (each is
    * a union of a 1-row frame). */
  def appendRow(values: Any*): EzFrame = {
    require(values.length == columns.length, s"expected ${columns.length} values")
    val row = org.apache.spark.sql.Row(values: _*)
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
    withDf(df.unionByName(one))
  }

  /** Conversions out (ezdata/simpletable.py:1774–1960 to_records/
    * to_dict): driver-side materialization — only for small results. */
  def toRecords(limit: Int = 100000): Seq[Map[String, Any]] = {
    val cols = columns
    df.limit(limit).collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** Streaming record export (the scale-safe form of
    * ezdata/simpletable.py:1774–1790 to_records): one partition in
    * driver memory at a time via `toLocalIterator`, so a table of any
    * size can be drained into an external consumer. */
  def recordIterator(): Iterator[Map[String, Any]] = {
    val cols = columns
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
      .map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** Column-major export (ezdata/simpletable.py:1792–1960 to_dict /
    * to_pandas shape: name → value vector), limit-guarded like
    * [[toRecords]].  The JVM-side equivalent of a pandas frame: feed
    * it to any columnar consumer. */
  def toColumns(limit: Int = 100000): Map[String, IndexedSeq[Any]] = {
    val rows = df.limit(limit).collect()
    columns.zipWithIndex.map { case (c, i) => c -> rows.map(_.get(i)).toIndexedSeq }.toMap
  }

  /** Estimated in-memory size in bytes, from Catalyst plan statistics
    * (the distributed analogue of simpletable's `nbytes` property,
    * ezdata/simpletable.py:2093–2098 — summing ndarray sizes would
    * require materializing; the optimizer's estimate is free). */
  def nbytes: BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Human-readable size (ezdata/simpletable.py:112–157
    * pretty_size_print over `nbytes`). */
  def prettySize: String = EzFrame.prettySizePrint(nbytes)

  def count(): Long = df.count()
  def show(n: Int = 10): Unit = df.show(n)
}

object EzFrame {
  def apply(df: DataFrame): EzFrame = new EzFrame(df, EzMeta())
  def apply(df: DataFrame, meta: EzMeta): EzFrame = new EzFrame(df, meta)

  /** Byte count → human-readable string with binary (1024) unit steps
    * and 3 significant digits (ezdata/simpletable.py:112–157
    * pretty_size_print). */
  def prettySizePrint(numBytes: BigInt): String = {
    val units = Seq("YB", "ZB", "EB", "PB", "TB", "GB", "MB", "KB")
    val scales = units.indices.map(i => BigInt(1024).pow(units.length - i))
    units.zip(scales).collectFirst {
      case (u, s) if numBytes > s =>
        "%.3g %s".format(numBytes.toDouble / s.toDouble, u).replace("e+0", "e+")
    }.getOrElse("%.3g Bytes".format(numBytes.toDouble))
  }

  private val HeaderMetaKey = "ez_header"
  private val AliasMetaKey = "ez_aliases"

  /** Read Parquet, recovering units/descriptions from StructField
    * metadata and header/aliases from their stashed blocks
    * (see [[EzFrame.writeParquet]]).  The inferred schema is memoized
    * ([[graft.sources.ParquetSchemaMemo]]). */
  def readParquet(spark: SparkSession, path: String): EzFrame = {
    val df = graft.sources.ParquetSchemaMemo.read(spark, path)
    var meta = EzMeta()
    df.schema.fields.foreach { f =>
      if (f.metadata.contains("unit"))
        meta = meta.copy(units = meta.units + (f.name -> f.metadata.getString("unit")))
      if (f.metadata.contains("description"))
        meta = meta.copy(comments = meta.comments + (f.name -> f.metadata.getString("description")))
      // header and aliases live under separate keys: values may contain
      // spaces, so no in-band separator is safe within one blob
      if (f.metadata.contains(HeaderMetaKey)) {
        val header = f.metadata.getString(HeaderMetaKey).split("\n").filter(_.contains("\t")).map { l =>
          val Array(k, v) = l.split("\t", 2); EzFrame.unesc(k) -> EzFrame.unesc(v)
        }
        meta = meta.copy(header = ListMap(header.toSeq: _*))
      }
      if (f.metadata.contains(AliasMetaKey)) {
        val aliases = f.metadata.getString(AliasMetaKey).split("\n").filter(_.contains("=")).map { l =>
          val Array(a, t) = l.split("=", 2); EzFrame.unescEq(a) -> EzFrame.unesc(t)
        }
        meta = meta.copy(aliases = ListMap(aliases.toSeq: _*))
      }
    }
    new EzFrame(df, meta.pruneFor(df.columns.toSeq))
  }

  /** Backslash-escape the metadata record separators (and, for alias
    * NAMES, the '=' delimiter).  Unescape is a no-op on legacy
    * unescaped blobs, so old files read back unchanged. */
  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t")
  private def escEq(v: String): String = esc(v).replace("=", "\\u003d")
  private[core] def unesc(v: String): String = {
    // left-to-right scan: sequential replace() would mangle an escaped
    // backslash followed by a literal 'n' ("\\" + "n" is not "\n")
    val sb = new StringBuilder(v.length); var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) v.charAt(i + 1) match {
        case 'n' => sb.append('\n'); i += 2
        case 't' => sb.append('\t'); i += 2
        case '\\' => sb.append('\\'); i += 2
        case 'u' if v.regionMatches(i + 2, "003d", 0, 4) => sb.append('='); i += 6
        case _ => sb.append(c); i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  private[core] def unescEq(v: String): String = unesc(v)

  /** Write Parquet with metadata embedded in the schema: per-column
    * unit/description in each StructField, table header + alias map in
    * the first field under dedicated keys (Parquet persists field
    * metadata in its own footer schema JSON). */
  def writeParquet(ez: EzFrame, path: String): Unit = {
    import org.apache.spark.sql.types.MetadataBuilder
    val fields = ez.df.schema.fields.zipWithIndex.map { case (f, i) =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      ez.meta.units.get(f.name).foreach(mb.putString("unit", _))
      ez.meta.comments.get(f.name).foreach(mb.putString("description", _))
      if (i == 0) {
        // escape the record separators INSIDE keys/values: a header
        // value carrying a newline or tab (or an alias name carrying
        // '=') would otherwise be silently misparsed or dropped on
        // read-back
        if (ez.meta.header.nonEmpty)
          mb.putString(HeaderMetaKey,
            ez.meta.header.map { case (k, v) => s"${esc(k)}\t${esc(v)}" }.mkString("\n"))
        if (ez.meta.aliases.nonEmpty)
          mb.putString(AliasMetaKey,
            ez.meta.aliases.map { case (a, t) => s"${escEq(a)}=${esc(t)}" }.mkString("\n"))
      }
      ez.df.col(f.name).as(f.name, mb.build())
    }
    ez.df.select(fields.toSeq: _*).write.mode("overwrite").parquet(path)
  }
}
