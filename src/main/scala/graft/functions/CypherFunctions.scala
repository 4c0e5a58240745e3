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
    * argument i when statically known (None inside lambdas); `argLit(i)`
    * is its value when the compiler knows it (a literal or parameter).
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
        // the delimiter as Pattern.quote does, so "." or "|" split as
        // characters (a literal delimiter folds to Pattern.quote's text)
        val d = args(1).cast(StringType)
        split(a0, concat(lit("\\Q"),
          org.apache.spark.sql.functions.replace(d, lit("\\E"), lit("\\E\\\\E\\Q")),
          lit("\\E")))
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
        // graft extension, Spark semantics; its precision must be known
        // at compile time (for a decimal input it sets the result type).
        if (args.size >= 2) argLit(1) match {
          case Some(n: Number) => round(a0, n.intValue)
          case other => throw new IllegalArgumentException(
            "round(x, precision): the precision must be an integer literal or " +
              s"parameter, got ${other.getOrElse("an expression")}")
        }
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
      // duration.between/inMonths/inDays/inSeconds (reference:
      // translator.ts:8711-8808, simplified second/month/day diffs)
      case "duration.between" | "duration.inseconds" =>
        concat(lit("PT"),
          (args(1).cast(TimestampType).cast(LongType) -
            a0.cast(TimestampType).cast(LongType)).cast(StringType), lit("S"))
      case "duration.inmonths" =>
        concat(lit("P"),
          ((year(args(1)) - year(a0)) * 12 + (month(args(1)) - month(a0))).cast(StringType),
          lit("M"))
      case "duration.indays" => concat(lit("P"), datediff(args(1), a0).cast(StringType), lit("D"))
      case other =>
        // fall through to any Spark SQL builtin with matching name/arity —
        // keeps the surface wide without re-listing every math function
        call_function(other, args: _*)
    }
  }

  // ------------------------------------------------------------------
  // durations — ISO 8601 strings (the reference representation,
  // executor.ts:4048-4141). This section is the one place that knows the
  // format: [[durationFromComponents]] writes every duration, the field
  // readers below read every duration, and the arithmetic is built on
  // both. Every component keeps its own sign (P-1DT-12H, PT-1.500000000S).
  // Accessors use the reference's cumulative semantics
  // (translator.ts:13286-13330): months = Y*12 + M, minutes = H*60 + M,
  // seconds = H*3600 + M*60 + S; years/days/hours are the bare component;
  // weeks = D div 7 (a `W` component is NOT consulted by `weeks`,
  // faithfully to the reference). Writer and readers use each input only
  // a few times, so a reader over a writer (the sum of two per-row
  // durations) stays a small expression.
  // ------------------------------------------------------------------

  /** Truncate-toward-zero integer division (SQL `div`). */
  private def tdiv(a: Column, b: Long): Column = call_function("div", a, lit(b))

  private def comp(v: Column, re: String): Column =
    coalesce(regexp_extract(v, re, 1).cast(LongType), lit(0L))

  private def durY(v: Column) = comp(v, "^P(-?\\d+)Y")
  private def durMo(v: Column) = comp(v, "^P(?:-?\\d+Y)?(-?\\d+)M")
  private def durW(v: Column) = comp(v, "^P(?:-?\\d+Y)?(?:-?\\d+M)?(-?\\d+)W")
  private def durD(v: Column) = comp(v, "^P(?:-?\\d+Y)?(?:-?\\d+M)?(?:-?\\d+W)?(-?\\d+)D")
  private def durH(v: Column) = comp(v, "T(-?\\d+)H")
  private def durMi(v: Column) = comp(v, "T(?:-?\\d+H)?(-?\\d+)M")

  /** The seconds field in nanoseconds. Its sign applies to its fraction:
    * PT-0.5S holds -500000000. */
  private def durSNanos(v: Column): Column =
    coalesce((regexp_extract(v, "T(?:-?\\d+H)?(?:-?\\d+M)?(-?\\d+(?:\\.\\d+)?)S", 1)
      .cast(DecimalType(20, 9)) * 1000000000).cast(LongType), lit(0L))

  /** What arithmetic adds: months (Y*12 + M), days (W*7 + D), and the
    * clock part in nanoseconds (H*3600 + M*60 seconds, plus S). */
  private def durMonths(v: Column) = durY(v) * 12 + durMo(v)
  private def durDays(v: Column) = durW(v) * 7 + durD(v)
  private def durHM(v: Column) = durH(v) * 3600 + durMi(v) * 60
  private def durNanos(v: Column) = durHM(v) * 1000000000L + durSNanos(v)

  /** Duration component access (`dur.days`); None when `key` is not a
    * duration accessor. Accessor names are the reference's (exact case).
    */
  def durationComponent(c: Column, key: String): Option[Column] = {
    lazy val hm = durHM(c)
    lazy val sn = durSNanos(c)
    val out: Option[Column] = key match {
      case "years" => Some(durY(c))
      case "months" => Some(durMonths(c))
      case "quarters" => Some(tdiv(durMonths(c), 3))
      case "weeks" => Some(tdiv(durD(c), 7))
      case "days" => Some(durD(c))
      case "hours" => Some(durH(c))
      case "minutes" => Some(durH(c) * 60 + durMi(c))
      case "seconds" => Some(hm + tdiv(sn, 1000000000L))
      case "milliseconds" => Some(hm * 1000 + tdiv(sn, 1000000L))
      case "microseconds" => Some(hm * 1000000L + tdiv(sn, 1000L))
      case "nanoseconds" => Some(hm * 1000000000L + sn)
      case "quartersOfYear" => Some(tdiv(durMo(c), 3))
      case "monthsOfQuarter" => Some(durMo(c) % 3)
      case "monthsOfYear" => Some(durMo(c))
      case "daysOfWeek" => Some(durD(c) % 7)
      case "minutesOfHour" => Some(durMi(c))
      case "secondsOfMinute" => Some(tdiv(sn, 1000000000L))
      case "millisecondsOfSecond" => Some(tdiv(sn % 1000000000L, 1000000L))
      case "microsecondsOfSecond" => Some(tdiv(sn % 1000000000L, 1000L))
      case "nanosecondsOfSecond" => Some(sn % 1000000000L)
      case _ => None
    }
    out.map(x => when(c.isNull, lit(null).cast(LongType)).otherwise(x))
  }

  /** duration({...}) → ISO string, the one duration writer. Fractions
    * spill y→mo→d→h→min→s→ns (Gregorian-average month) and truncate
    * toward zero, so every component keeps its own sign (reference
    * executor.ts:4060-4140). Null components count as 0, per the
    * reference's `Number(map.x ?? 0)`. Literal components fold to one
    * literal in Catalyst's constant folding.
    */
  def durationFromComponents(m: Map[String, Column]): Column = {
    def get(k: String): Column =
      coalesce(m.getOrElse(k, lit(0d)).cast(DoubleType), lit(0d))
    // the fraction of `from` (x % 1 keeps x's sign) spills into `to`
    def spill(from: Column, to: String, per: Double): Column = get(to) + (from % 1) * per
    val years = get("years")
    val months = spill(years, "months", 12)
    val weeks = get("weeks")
    val days = spill(months, "days", 365.2425 / 12) + (weeks % 1) * 7
    val hours = spill(days, "hours", 24)
    val minutes = spill(hours, "minutes", 60)
    val nanos = round(spill(minutes, "seconds", 60) * 1e9 + get("milliseconds") * 1e6 +
      get("microseconds") * 1e3 + get("nanoseconds")).cast(LongType)
    def whole(x: Column) = x.cast(LongType)
    write(whole(years), whole(months), whole(weeks), whole(days), whole(hours),
      whole(minutes), nanos)
  }

  /** The ISO text of whole years, months, weeks, days, hours and minutes
    * plus `nanos` nanoseconds. The nanoseconds carry into minutes and
    * hours (no h→d or mo→y carry); zero fields are left out, and the zero
    * duration is PT0S.
    */
  private def write(y: Column, mo: Column, w: Column, d: Column, h: Column, mi: Column,
      nanos: Column): Column = {
    val minutes = mi + tdiv(nanos, 60000000000L)
    val text = format_string("P%dY%dM%dW%dDT%dH%dM%.9fS", y, mo, w, d,
      h + tdiv(minutes, 60), minutes % 60, (nanos % 60000000000L) / 1e9)
    // drop zero fields and a zero fraction, then an empty time part
    regexp_replace(regexp_replace(regexp_replace(text,
      "(?<=[PTYMWDH])0(?:[YMWDH]|\\.0{9}S)|\\.0{9}(?=S)", ""), "T$", ""), "^P$", "PT0S")
  }

  /** Comparable magnitude of an ISO duration in (fractional) microseconds,
    * using the Gregorian-average month the reference uses for fractional
    * spills (365.2425/12 days). The reference never compares durations in
    * its tests; this follows Neo4j's average-length total ordering.
    */
  def durationTotalMicros(c: Column): Column =
    (durMonths(c).cast(DoubleType) * (365.2425 / 12) * 86400e6) +
      (durDays(c).cast(DoubleType) * 86400e6) + durNanos(c).cast(DoubleType) / 1000

  /** `t + sign * d` for a temporal `t` of type `tType` and a duration
    * `d`: months, then days, then the clock part. A date stays a date and
    * drops the clock part (Neo4j date + duration semantics); any other
    * value is taken as a timestamp. A null duration gives null.
    */
  def addDuration(t: Column, tType: Option[DataType], d: Column, sign: Int): Column = {
    val months = durMonths(d) * sign
    val days = durDays(d) * sign
    val out = tType match {
      case Some(DateType) =>
        date_add(add_months(t, months.cast(IntegerType)), days.cast(IntegerType))
      case _ =>
        timestamp_add("MICROSECOND", tdiv(durNanos(d), 1000L) * sign,
          timestamp_add("DAY", days, timestamp_add("MONTH", months, t.cast(TimestampType))))
    }
    when(d.isNotNull, out)
  }

  /** `a + sign * b` for two durations: months, days and the clock part
    * add field by field (no month/day carry) and are written as
    * [[durationFromComponents]] writes. Null if either is null.
    */
  def addDurations(a: Column, b: Column, sign: Int): Column =
    when(a.isNotNull && b.isNotNull,
      write(lit(0L), durMonths(a) + durMonths(b) * sign, lit(0L),
        durDays(a) + durDays(b) * sign, lit(0L), lit(0L), durNanos(a) + durNanos(b) * sign))

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
