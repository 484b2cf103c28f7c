package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Dialect-compatibility functions for the SQL facade — the handful of
  * DuckDB/Postgres-style names a SQL user coming from the reference's
  * Kyuubi endpoint would type that Spark spells differently. Each is a
  * pure alias onto a NATIVE Catalyst expression (zero UDFs, codegen
  * intact); registration is session-scoped via temp functions, and a
  * name the session already resolves is left as it is.
  *
  * Deliberately NOT shimmed (semantic divergence, not spelling):
  * `dayofweek` (0- vs 1-based) and 1-based array subscripts — queries
  * using those need engine-specific text, as they would on any two
  * real engines.
  */
object SqlDialect {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def install(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")

    // epoch_ms(ts) / epoch_us(ts): ms/µs since epoch (DuckDB-ish)
    install("epoch_ms") {
      case Seq(ts) => UnixMillis(Cast(ts, TimestampType))
      case other => throw badArgs("epoch_ms", 1, other)
    }
    install("epoch_us") {
      case Seq(ts) => UnixMicros(Cast(ts, TimestampType))
      case other => throw badArgs("epoch_us", 1, other)
    }

    // quantile_cont(col, p) = percentile (both: linear interpolation
    // at p·(n−1))
    install("quantile_cont") {
      case Seq(c, p) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.Percentile(c, p)
          .toAggregateExpression()
      case other => throw badArgs("quantile_cont", 2, other)
    }

    // json_extract_string(json, path) = get_json_object
    install("json_extract_string") {
      case Seq(json, path) => GetJsonObject(json, path)
      case other => throw badArgs("json_extract_string", 2, other)
    }

    // array_to_string(arr, sep) = array_join
    install("array_to_string") {
      case Seq(arr, sep) => ArrayJoin(arr, sep, None)
      case other => throw badArgs("array_to_string", 2, other)
    }

    // strftime(ts, '%Y-%m') → date_format with the pattern translated
    // (literal formats only — the common strftime escapes)
    install("strftime") {
      case Seq(ts, Literal(fmt: UTF8String, StringType)) =>
        val translated = fmt.toString
          .replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
          .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
        // fail LOUDLY on escapes this shim doesn't translate — passing
        // them through would silently re-interpret the letter as a
        // date_format pattern and return wrong strings
        require(!translated.contains("%"),
          s"strftime shim supports %Y %m %d %H %M %S only, got: $fmt — " +
            "use engine-specific date_format text for other escapes")
        DateFormatClass(Cast(ts, TimestampType), Literal(translated))
      case other => throw new IllegalArgumentException(
        s"strftime shim needs (expr, literal format), got $other")
    }

    // NOT shimmable here: date_diff('day', …) — Spark's parser
    // special-cases date_diff's unit argument BEFORE function
    // resolution and rejects quoted units, so a registry alias never
    // sees the call; queries using it need engine-specific text
    // (datediff(end, start)).
  }

  private def badArgs(name: String, want: Int, got: Seq[Expression]) =
    new IllegalArgumentException(
      s"$name expects $want argument(s), got ${got.length}")
}
