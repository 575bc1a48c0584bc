package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SegmentWriter

/** Transparent derived-column rewrites: Pinot's timestamp, JSON and
  * native-text indexes (reference: /root/reference/basics/indexing/
  * timestamp-index.md, json-index.md, native-text-index.md) compute a
  * value at ingestion so queries read it instead of deriving it per row.
  *
  * The Spark-native analog: `SegmentWriter.write` stores the derived value
  * as a column next to its source, and this rule rewrites the per-row
  * expression into a reference to that column wherever the node's input
  * already carries it. One walk serves three cases:
  *
  *   - timestamp index: `date_trunc('<granularity>', ts)` reads the
  *     TimestampType column `SegmentWriter.derivedName(ts, granularity)`
  *     (`derivedTimeCols = Seq(("ts", "day"), ...)`);
  *   - JSON index: `get_json_object(col, '<path>')` reads the string
  *     column `SegmentWriter.derivedJsonName(col, path)`
  *     (`derivedJsonCols = Seq(("props", "$.user.id"), ...)`);
  *   - text index: the compiled TEXT_CONTAINS shape
  *     `array_contains(split(lower(text), '\s+'), 'term')` becomes
  *     `array_contains(text__terms, 'term')` over the stored distinct
  *     lowercase token array (`derivedTermCols = Seq("text")`).
  *
  * The per-row truncation, JSON parse or lower+split disappears from the
  * plan, and a filter on the derived value becomes a plain column
  * predicate that pushes down to parquet row-group min/max stats (and
  * prunes Hive partitions when the derived column is the partition key) —
  * at 100 TB, stats-pruned reads of one narrow column instead of a
  * transform over every row.
  *
  * Semantics are identical by construction: each stored column IS the
  * same expression computed at write time over the same bytes (including
  * get_json_object's nulls on missing paths and malformed documents, and
  * array_contains over the distinct token array equals it over the raw
  * one). Truncation runs under the writer's session timezone; Graft.session
  * pins UTC on both sides, which is what makes write-time and query-time
  * truncation agree (documented engine invariant).
  *
  * Each case keeps its own switch, `spark.graft.timestampIndex.enabled`,
  * `spark.graft.jsonIndex.enabled` and `spark.graft.termIndex.enabled`
  * (PinotSql's `useTimestampIndex`/`useJsonIndex`/`useTextIndex` options;
  * the parity specs compare rewritten against raw runs with them).
  */
class DerivedColumnRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val granularities =
    Set("year", "quarter", "month", "week", "day", "hour", "minute", "second")

  private val SplitPattern = UTF8String.fromString("\\s+")

  private def enabled(key: String): Boolean = spark.conf.get(key, "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val timestamps = enabled("spark.graft.timestampIndex.enabled")
    val json = enabled("spark.graft.jsonIndex.enabled")
    val terms = enabled("spark.graft.termIndex.enabled")
    if (!timestamps && !json && !terms) return plan
    plan.transformUp {
      case node =>
        val available = node.children.flatMap(_.output)
        def stored(name: String, typed: DataType => Boolean): Option[Attribute] =
          available.find(a => a.name.equalsIgnoreCase(name) && typed(a.dataType))
        if (available.isEmpty) node
        else node.transformExpressionsUp {
          case t @ TruncTimestamp(Literal(fmt: UTF8String, StringType), ts: AttributeReference, _)
              if timestamps && granularities(fmt.toString.toLowerCase) =>
            stored(SegmentWriter.derivedName(ts.name, fmt.toString.toLowerCase),
              _ == TimestampType).getOrElse(t)
          case g @ GetJsonObject(doc: AttributeReference, Literal(path: UTF8String, StringType))
              if json =>
            stored(SegmentWriter.derivedJsonName(doc.name, path.toString),
              _ == StringType).getOrElse(g)
          case ac @ ArrayContains(
              StringSplit(Lower(text: AttributeReference),
                Literal(p: UTF8String, StringType), Literal(-1, _)),
              term) if terms && p == SplitPattern =>
            stored(SegmentWriter.derivedTermsName(text.name), {
              case ArrayType(StringType, _) => true
              case _ => false
            }).map(ArrayContains(_, term)).getOrElse(ac)
        }
    }
  }
}
