package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cypher scalar/aggregate function surface → Spark Column expressions.
  *
  * Reference analog: the function dispatch in
  * /root/reference/src/executor.ts (string/numeric/list/temporal function
  * evaluation, e.g. duration handling at executor.ts:4049, collect at
  * executor.ts:611). Every mapping here is a thin wrapper over Spark's
  * codegen'd `org.apache.spark.sql.functions` (never a UDF) so the whole
  * expression tree stays inside WholeStageCodegen.
  *
  * Type-dependent Cypher functions (`size` on string vs list, temporal
  * component access) take the argument's resolved [[DataType]] when the
  * caller can provide it.
  */
object CypherFunctions {

  val aggregateNames: Set[String] = Set("count", "sum", "avg", "min", "max",
    "collect", "stdev", "stdevp", "percentilecont", "percentiledisc")

  def isAggregate(name: String): Boolean = aggregateNames(name.toLowerCase)

  /** Internal columns of graph structs, excluded from `properties()`/`keys()`. */
  private val internalFields = Set("_id", "_src", "_dst", "_eid", "_label", "_hops", "_eids", "_labels")

  /** Resolve an aggregate call. `star` marks count(*). */
  def aggregate(name: String, args: Seq[Column], distinct: Boolean, star: Boolean): Column =
    name.toLowerCase match {
      case "count" if star => count(lit(1))
      case "count" if distinct => count_distinct(args.head, args.tail: _*)
      case "count" => count(args.head)
      // Cypher: sum over no values (or all nulls) is 0, not null
      case "sum" => coalesce(sum(args.head), lit(0))
      case "avg" => avg(args.head)
      case "min" => min(args.head)
      case "max" => max(args.head)
      case "collect" if distinct => collect_set(args.head)
      case "collect" => collect_list(args.head)
      // Cypher stDev/stDevP return 0 for empty and single-value groups
      // (Spark's sample stddev is null for n<=1)
      case "stdev" => coalesce(stddev_samp(args.head), lit(0.0))
      case "stdevp" => coalesce(stddev_pop(args.head), lit(0.0))
      // exact percentile (Spark's `percentile` is exact; matches DuckDB
      // quantile_cont)
      case "percentilecont" => percentile(args.head, args(1))
      // The Cypher compiler rewrites percentileDisc to a spill-capable
      // windowed nearest-rank plan BEFORE aggregation (CypherCompiler
      // applyProjection) — this collect_list form is only the fallback
      // for direct API callers and carries its in-memory-group contract.
      case "percentiledisc" =>
        val sorted = sort_array(collect_list(args.head))
        element_at(sorted,
          greatest(ceil(size(sorted) * args(1)), lit(1)).cast(IntegerType))
      case other => throw new IllegalArgumentException(s"Unknown aggregate: $other")
    }

  /** Resolve a scalar call. `argType(i)` is the resolved Spark type of
    * argument i when statically known (None inside lambdas).
    */
  def scalar(name: String, args: Seq[Column], argType: Int => Option[DataType],
      argLit: Int => Option[Any] = _ => None): Column = {
    def a0 = args.head
    name.toLowerCase match {
      // ---- string ----
      case "toupper" | "upper" => upper(a0)
      case "tolower" | "lower" => lower(a0)
      case "trim" => trim(a0)
      case "ltrim" => ltrim(a0)
      case "rtrim" => rtrim(a0)
      case "replace" => call_function("replace", args: _*)
      case "split" =>
        // Cypher split = literal delimiter; Spark split = regex. Quote
        // literal delimiters so "." or "|" split as characters.
        argLit(1) match {
          case Some(d: String) => split(a0, java.util.regex.Pattern.quote(d))
          case _ =>
            // a delimiter known at run time, quoted as Pattern.quote does
            val d = args(1).cast(StringType)
            split(a0, concat(lit("\\Q"),
              org.apache.spark.sql.functions.replace(d, lit("\\E"), lit("\\E\\\\E\\Q")),
              lit("\\E")))
        }
      case "substring" =>
        // Cypher 0-based start; Spark 1-based
        if (args.size >= 3) substr(a0, args(1) + lit(1), args(2))
        else substr(a0, args(1) + lit(1), length(a0))
      case "left" => substr(a0, lit(1), args(1))
      case "right" => a0.substr(length(a0) - args(1) + lit(1), args(1))
      case "reverse" =>
        argType(0) match {
          case Some(_: ArrayType) => org.apache.spark.sql.functions.reverse(a0)
          case _ => org.apache.spark.sql.functions.reverse(a0)
        }
      case "tostring" => a0.cast(StringType)
      case "tointeger" | "toint" => a0.cast(DoubleType).cast(LongType)
      case "tofloat" => a0.cast(DoubleType)
      case "toboolean" => a0.cast(BooleanType)
      // ---- size / length: list → cardinality, string → char count.
      // size(x) is wrapped null-safe: Spark's non-ANSI legacy size(NULL)
      // is -1, Cypher requires null ----
      case "size" | "length" =>
        def nullSafeSize(c: Column) = when(c.isNull, lit(null)).otherwise(size(c))
        argType(0) match {
          case Some(_: ArrayType) | Some(_: MapType) => nullSafeSize(a0)
          case Some(StringType) => length(a0).cast(LongType)
          case Some(st: StructType) if st.fieldNames.contains("_hops") =>
            a0.getField("_hops") // length(varlength rel) = hop count
          case _ => nullSafeSize(a0)
        }
      // ---- numeric ----
      case "abs" => abs(a0)
      case "ceil" | "ceiling" => ceil(a0).cast(DoubleType)
      case "floor" => floor(a0).cast(DoubleType)
      case "round" =>
        // single-arg round follows the reference (executor.ts ROUND →
        // JS Math.round): half rounds toward +inf, so round(-2.5) = -2
        // (Spark's round is half-away-from-zero: -3). 2-arg round is a
        // graft extension, Spark semantics.
        if (args.size >= 2) round(a0, argLit(1).map(_.toString.toInt).getOrElse(0))
        else floor(a0 + lit(0.5)).cast(DoubleType)
      case "sqrt" => sqrt(a0)
      case "sign" => signum(a0).cast(LongType)
      case "exp" => exp(a0)
      case "log" => log(a0)
      case "log10" => log10(a0)
      case "sin" => sin(a0); case "cos" => cos(a0); case "tan" => tan(a0)
      case "asin" => asin(a0); case "acos" => acos(a0)
      case "atan" => atan(a0)
      case "atan2" => atan2(a0, args(1))
      case "pi" => lit(math.Pi)
      case "e" => lit(math.E)
      case "rand" => rand()
      case "randomuuid" => expr("uuid()")
      // ---- list ----
      // a VOID-typed arg (missing property) is null-in-null-out; the raw
      // Spark functions would reject the unresolved NULL type outright
      case "head" if argType(0).contains(NullType) => lit(null)
      case "head" => element_at(a0, 1)
      case "last" if argType(0).contains(NullType) => lit(null)
      case "last" => element_at(a0, -1)
      case "tail" if argType(0).contains(NullType) => lit(null)
      case "tail" => slice(a0, lit(2), greatest(size(a0) - lit(1), lit(0)))
      case "range" =>
        // Spark's two-arg sequence auto-descends (sequence(3,1) =
        // [3,2,1]); Cypher's default step is +1, so range(3,1) = []
        if (args.size >= 3) sequence(a0, args(1), args(2))
        else when(a0 <= args(1), sequence(a0, args(1)))
          .otherwise(array().cast(ArrayType(LongType)))
      // ---- graph ----
      // labels/properties/keys build a container AROUND the entity's
      // fields, so a null entity (OPTIONAL MATCH miss) must null-guard —
      // array(null-field) would otherwise yield [null], not null
      // id() over a relationship struct returns the edge id
      case "id" =>
        argType(0) match {
          case Some(st: StructType)
              if !st.fieldNames.contains("_id") && st.fieldNames.contains("_eid") =>
            a0.getField("_eid")
          case _ => a0.getField("_id")
        }
      case "labels" =>
        // multi-label shim: primary label first, then the `_labels`
        // secondaries in declaration order (schema-gated — plain graphs
        // keep the 1-element form). The unlabeled-node sentinel frame
        // presents as label-less.
        val unlabeled = graft.graph.PropertyGraph.UNLABELED
        argType(0) match {
          case Some(st: StructType) if st.fieldNames.contains("_labels") =>
            when(a0.isNotNull, array_remove(concat(array(a0.getField("_label")),
              coalesce(a0.getField("_labels"), array().cast(ArrayType(StringType)))),
              unlabeled))
          case _ =>
            when(a0.isNotNull, array_remove(array(a0.getField("_label")), unlabeled))
        }
      case "type" => a0.getField("_label")
      case "startnode" => a0.getField("_src")
      case "endnode" => a0.getField("_dst")
      case "properties" =>
        argType(0) match {
          case Some(st: StructType) =>
            val props = st.fields.filterNot(f => internalFields(f.name))
            when(a0.isNotNull,
              struct(props.toIndexedSeq.map(f => a0.getField(f.name).as(f.name)): _*))
          case _ => a0
        }
      case "keys" =>
        argType(0) match {
          case Some(st: StructType) =>
            val props = st.fields.filterNot(f => internalFields(f.name)).map(_.name)
            when(a0.isNotNull, array(props.toIndexedSeq.map(lit): _*))
          case Some(_: MapType) => map_keys(a0)
          case _ => map_keys(a0)
        }
      case "exists" => a0.isNotNull
      case "coalesce" => coalesce(args: _*)
      case "nullif" => nullif(a0, args(1))
      // ---- temporal ----
      case "date" => if (args.isEmpty) current_date() else to_date(a0)
      case "datetime" | "localdatetime" =>
        if (args.isEmpty) current_timestamp() else to_timestamp(a0)
      // TIME values have no Spark type — represented as HH:mm:ss strings
      // (divergence documented; the reference stores strings too)
      case "time" | "localtime" =>
        if (args.isEmpty) date_format(current_timestamp(), "HH:mm:ss")
        else date_format(to_timestamp(a0), "HH:mm:ss")
      case "timestamp" => (unix_timestamp() * 1000).cast(LongType)
      case "epochmillis" => (a0.cast(DoubleType) * 1000).cast(LongType)
      case "duration_between_days" => datediff(args(1), a0).cast(LongType)
      case other =>
        // fall through to any Spark SQL builtin with matching name/arity —
        // keeps the surface wide without re-listing every math function
        call_function(other, args: _*)
    }
  }

  // ------------------------------------------------------------------
  // durations — ISO 8601 strings (the reference representation,
  // executor.ts:4048-4141). Accessors parse components out of the string
  // with the reference's cumulative semantics (translator.ts:13286-13330):
  // months = Y*12 + M, minutes = H*60 + M, seconds = H*3600 + M*60 + S;
  // years/days/hours are the bare component; weeks = D div 7 (a `W`
  // component is NOT consulted by `weeks`, faithfully to the reference).
  // ------------------------------------------------------------------

  /** Truncate-toward-zero integer division (SQL `div`); Spark's `/` on
    * longs goes through Double and `floor` would round negatives away
    * from zero.
    */
  private def tdiv(a: Column, b: Long): Column =
    ((a - (a % b)) / b).cast(LongType)

  private def comp(v: Column, re: String): Column =
    coalesce(regexp_extract(v, re, 1).cast(LongType), lit(0L))

  /** First `n` digits of the fractional-seconds field, zero-padded to
    * nanosecond width (the writer always prints %09d).
    */
  private def fracDigits(v: Column, n: Int): Column =
    coalesce(substring(rpad(regexp_extract(v, "\\.(\\d+)S", 1), 9, "0"), 1, n)
      .cast(LongType), lit(0L))

  private def durY(v: Column) = comp(v, "^P(-?\\d+)Y")
  private def durMo(v: Column) = comp(v, "^P(?:-?\\d+Y)?(-?\\d+)M")
  private def durW(v: Column) = comp(v, "^P(?:-?\\d+Y)?(?:-?\\d+M)?(-?\\d+)W")
  private def durD(v: Column) = comp(v, "^P(?:-?\\d+Y)?(?:-?\\d+M)?(?:-?\\d+W)?(-?\\d+)D")
  private def durH(v: Column) = comp(v, "T(-?\\d+)H")
  private def durMi(v: Column) = comp(v, "T(?:-?\\d+H)?(-?\\d+)M")
  private def durS(v: Column) = comp(v, "T(?:-?\\d+H)?(?:-?\\d+M)?(-?\\d+)(?:\\.\\d+)?S")

  /** Duration component access (`dur.days`); None when `key` is not a
    * duration accessor. Accessor names are the reference's (exact case).
    */
  def durationComponent(c: Column, key: String): Option[Column] = {
    lazy val totalMonths = durY(c) * 12 + durMo(c)
    lazy val totalSeconds = durH(c) * 3600 + durMi(c) * 60 + durS(c)
    val out: Option[Column] = key match {
      case "years" => Some(durY(c))
      case "months" => Some(totalMonths)
      case "quarters" => Some(tdiv(totalMonths, 3))
      case "weeks" => Some(tdiv(durD(c), 7))
      case "days" => Some(durD(c))
      case "hours" => Some(durH(c))
      case "minutes" => Some(durH(c) * 60 + durMi(c))
      case "seconds" => Some(totalSeconds)
      case "milliseconds" => Some(totalSeconds * 1000 + fracDigits(c, 3))
      case "microseconds" => Some(totalSeconds * 1000000L + fracDigits(c, 6))
      case "nanoseconds" => Some(totalSeconds * 1000000000L + fracDigits(c, 9))
      case "quartersOfYear" => Some(tdiv(durMo(c), 3))
      case "monthsOfQuarter" => Some(durMo(c) % 3)
      case "monthsOfYear" => Some(durMo(c))
      case "daysOfWeek" => Some(durD(c) % 7)
      case "minutesOfHour" => Some(durMi(c))
      case "secondsOfMinute" => Some(durS(c))
      case "millisecondsOfSecond" => Some(fracDigits(c, 3))
      case "microsecondsOfSecond" => Some(fracDigits(c, 6))
      case "nanosecondsOfSecond" => Some(fracDigits(c, 9))
      case _ => None
    }
    out.map(x => when(c.isNull, lit(null).cast(LongType)).otherwise(x))
  }

  /** duration({...}) with per-row (non-literal) components → ISO string.
    * Same fractional-spill (y→mo→d→h→min→s→ns, Gregorian-average month)
    * and s→min→h normalization as the literal path (reference
    * executor.ts:4060-4140); null components count as 0, per the
    * reference's `Number(map.x ?? 0)`.
    */
  def durationFromComponents(m: Map[String, Column]): Column = {
    def get(k: String): Column =
      coalesce(m.getOrElse(k, lit(0d)).cast(DoubleType), lit(0d))
    val rawYears = get("years")
    val finalYears = rawYears.cast(LongType)
    val totalMonths = get("months") + (rawYears - finalYears.cast(DoubleType)) * 12
    val finalMonths = totalMonths.cast(LongType)
    val rawWeeks = get("weeks")
    val finalWeeks = rawWeeks.cast(LongType)
    val totalDays = get("days") +
      (totalMonths - finalMonths.cast(DoubleType)) * (365.2425 / 12) +
      (rawWeeks - finalWeeks.cast(DoubleType)) * 7
    val finalDays = totalDays.cast(LongType)
    val totalHours = get("hours") + (totalDays - finalDays.cast(DoubleType)) * 24
    val hoursPre = totalHours.cast(LongType)
    val totalMins = get("minutes") + (totalHours - hoursPre.cast(DoubleType)) * 60
    val minsPre = totalMins.cast(LongType)
    val secsFromFrac = (totalMins - minsPre.cast(DoubleType)) * 60
    val totalNanos = round((get("seconds") + secsFromFrac) * 1e9 +
      get("milliseconds") * 1e6 + get("microseconds") * 1e3 +
      get("nanoseconds")).cast(LongType)
    val totalSecs = tdiv(totalNanos, 1000000000L)
    val remNanos = totalNanos % 1000000000L
    val finalSecs = totalSecs % 60
    val totalMinutes = minsPre + tdiv(totalSecs, 60)
    val finalMinutes = totalMinutes % 60
    val finalHours = hoursPre + tdiv(totalMinutes, 60)

    def piece(v: Column, unit: String): Column =
      when(v =!= 0, concat(v.cast(StringType), lit(unit))).otherwise(lit(""))
    val datePart = concat(piece(finalYears, "Y"), piece(finalMonths, "M"),
      piece(finalWeeks, "W"), piece(finalDays, "D"))
    val secStr = when(remNanos =!= 0,
        concat(when(finalSecs === 0 && remNanos < 0, lit("-0"))
            .otherwise(finalSecs.cast(StringType)),
          lit("."), lpad(abs(remNanos).cast(StringType), 9, "0"), lit("S")))
      .otherwise(when(finalSecs =!= 0, concat(finalSecs.cast(StringType), lit("S")))
        .otherwise(lit("")))
    val timePart = concat(piece(finalHours, "H"), piece(finalMinutes, "M"), secStr)
    when(timePart =!= "", concat(lit("P"), datePart, lit("T"), timePart))
      .otherwise(when(datePart =!= "", concat(lit("P"), datePart))
        .otherwise(lit("PT0S")))
  }

  /** Comparable magnitude of an ISO duration in (fractional) microseconds,
    * using the Gregorian-average month the reference uses for fractional
    * spills (365.2425/12 days). The reference never compares durations in
    * its tests; this follows Neo4j's average-length total ordering.
    */
  def durationTotalMicros(c: Column): Column =
    ((durY(c) * 12 + durMo(c)).cast(DoubleType) * (365.2425 / 12) * 86400e6) +
      ((durW(c) * 7 + durD(c)).cast(DoubleType) * 86400e6) +
      durH(c).cast(DoubleType) * 3600e6 +
      durMi(c).cast(DoubleType) * 60e6 +
      durS(c).cast(DoubleType) * 1e6 +
      fracDigits(c, 9).cast(DoubleType) / 1000

  /** Temporal component access (`d.year`) for date/timestamp values. */
  def temporalComponent(c: Column, key: String): Option[Column] = key.toLowerCase match {
    case "year" => Some(year(c).cast(LongType))
    case "month" => Some(month(c).cast(LongType))
    case "day" => Some(dayofmonth(c).cast(LongType))
    case "hour" => Some(hour(c).cast(LongType))
    case "minute" => Some(minute(c).cast(LongType))
    case "second" => Some(second(c).cast(LongType))
    // Neo4j dayOfWeek is ISO (Monday=1..Sunday=7); Spark's dayofweek is
    // Sunday=1..Saturday=7 — weekday() (0=Mon..6=Sun) + 1 is ISO directly
    case "dayofweek" => Some((weekday(c.cast(DateType)) + 1).cast(LongType))
    case "dayofyear" | "ordinalday" => Some(dayofyear(c).cast(LongType))
    case "week" => Some(weekofyear(c).cast(LongType))
    // ISO week-based year = calendar year of this week's Thursday
    // (weekday() is 0=Mon..6=Sun, so Thursday = d + (3 - weekday))
    case "weekyear" =>
      Some(year(date_add(c.cast(DateType), lit(3) - weekday(c.cast(DateType)))).cast(LongType))
    case "quarter" => Some(quarter(c).cast(LongType))
    case "decade" => Some((year(c) / 10).cast(LongType))
    case "century" => Some((year(c) / 100).cast(LongType))
    case "millennium" => Some((year(c) / 1000).cast(LongType))
    case "millisecond" =>
      Some((pmod(unix_micros(c.cast(TimestampType)), lit(1000000L)) / 1000).cast(LongType))
    case "microsecond" =>
      Some(pmod(unix_micros(c.cast(TimestampType)), lit(1000000L)).cast(LongType))
    case "epochseconds" => Some(unix_seconds(c.cast(TimestampType)))
    case "epochmillis" => Some(unix_millis(c.cast(TimestampType)))
    case _ => None
  }
}
