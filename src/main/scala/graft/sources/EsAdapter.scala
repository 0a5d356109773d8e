package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Elasticsearch adapter — the reference's literal I/O boundary,
  * rebuilt behind a transport seam.
  *
  * The reference reads and writes a parent/child ES index through the
  * `elasticsearch-spark` connector: `EsSpark.esJsonRDD` scans with a
  * hand-built query DSL (HouseholdRetentionProcessing.scala:399, :464,
  * :732), a REST `_search` probe count-gates each phase (:224, :343),
  * and `saveToEsWithMeta` upserts per-person history arrays (:302).
  * This sandbox has no ES and no connector jar (zero egress), so the
  * adapter splits exactly along that line:
  *
  *   - [[EsDsl]] — the pure query-DSL construction: the four
  *     reference query shapes (term/range/exists/has_child/has_parent/
  *     must_not-nested, verbatim structure) plus the generic
  *     [[EsDsl.fromFilters]] pushdown from Spark's public
  *     `sources.Filter` API. Fully contract-tested (EsAdapterSpec
  *     parses and asserts the JSON).
  *   - [[EsTransport]] — the 2-method seam a deployment implements
  *     with the public connector:
  *     {{{
  *     class LiveEsTransport(sc: SparkContext) extends EsTransport {
  *       def searchJson(resource, query, options) =
  *         org.elasticsearch.spark.rdd.EsSpark.esJsonRDD(
  *           sc, resource, query, options)
  *       def upsertWithMeta(docs, resource, conf) =
  *         org.elasticsearch.spark.rdd.EsSpark.saveToEsWithMeta(
  *           docs.map { case (id, json) => (Map("ID" -> id), json) },
  *           resource, conf + ("es.input.json" -> "true"))
  *     }
  *     }}}
  *   - [[EsAdapter]] — the S2-S4/S7 contracts over the seam: scans
  *     return DataFrames via `spark.read.json` exactly as the
  *     reference does (:404-409), the writer assembles whole-array
  *     replacement documents (§3.3 idempotency: the history array is
  *     REPLACED per person, never appended) with Spark-native
  *     `to_json`, no driver-side row loop.
  *
  * README carries the migration note for reference users.
  */
object EsDsl {

  /** Minimal JSON AST with spec-correct string escaping — the DSL is
    * built structurally, never by string interpolation of user values
    * (the reference interpolates `clientCode` raw into the query
    * body, :180 — an injection bug this adapter does not inherit). */
  sealed trait J { def render: String }
  final case class JStr(s: String) extends J {
    def render: String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  final case class JNum(n: Long) extends J { def render: String = n.toString }
  final case class JBool(b: Boolean) extends J { def render: String = b.toString }
  final case class JArr(items: Seq[J]) extends J {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  final case class JObj(fields: (String, J)*) extends J {
    def render: String =
      fields.map { case (k, v) => JStr(k).render + ":" + v.render }
        .mkString("{", ",", "}")
  }

  // ---- leaf queries (reference field-for-field) ----------------------

  /** `{"term": {field: value}}` — P5 (ref :180). */
  def term(field: String, value: String): J =
    JObj("term" -> JObj(field -> JStr(value)))

  /** `{"terms": {field: [...]}}` — the IN pushdown. */
  def terms(field: String, values: Seq[String]): J =
    JObj("terms" -> JObj(field -> JArr(values.map(JStr))))

  /** `{"range": {field: {"gte": …, "lte": …}}}` with now-anchor or
    * literal bounds — P6 (ref :188, :361). */
  def range(field: String, gte: Option[String], lte: Option[String]): J =
    JObj("range" -> JObj(field -> JObj(
      (gte.map("gte" -> JStr(_)) ++ lte.map("lte" -> JStr(_))).toSeq: _*)))

  /** `{"exists": {"field": f}}` — P7 (ref :194). */
  def exists(field: String): J = JObj("exists" -> JObj("field" -> JStr(field)))

  /** `{"has_child": {"type": t, "query": q}}` — J8 (ref :182-193). */
  def hasChild(tpe: String, query: J): J =
    JObj("has_child" -> JObj("type" -> JStr(tpe), "query" -> query))

  /** `{"has_parent": {"parent_type": t, "query": q}}` — J9 (ref
    * :363-384). */
  def hasParent(parentType: String, query: J): J =
    JObj("has_parent" -> JObj("parent_type" -> JStr(parentType),
      "query" -> query))

  /** `{"nested": {"path": p, "query": q}}` — the P8 array probe
    * (ref :198-204). */
  def nested(path: String, query: J): J =
    JObj("nested" -> JObj("path" -> JStr(path), "query" -> query))

  /** `{"bool": {...}}` with only the non-empty clause lists. */
  def bool(must: Seq[J] = Nil, mustNot: Seq[J] = Nil,
           should: Seq[J] = Nil): J =
    JObj("bool" -> JObj(
      (Seq.empty[(String, J)] ++
        (if (must.nonEmpty) Seq("must" -> JArr(must)) else Nil) ++
        (if (mustNot.nonEmpty) Seq("must_not" -> JArr(mustNot)) else Nil) ++
        (if (should.nonEmpty) Seq("should" -> JArr(should)) else Nil)): _*))

  /** `{"constant_score": {"filter": q}}` — P9: every reference query
    * is score-free filtering (ref :175). */
  def constantScore(filter: J): J =
    JObj("constant_score" -> JObj("filter" -> filter))

  /** Full `_search` body. `size=0` is the count-gate shape (A6). */
  def searchBody(query: J, size: Option[Int] = None,
                 source: Seq[String] = Nil): String =
    JObj((size.map(s => "size" -> (JNum(s.toLong): J)).toSeq ++
      (if (source.nonEmpty)
        Seq("_source" -> (JArr(source.map(JStr)): J)) else Nil) ++
      Seq("query" -> query)): _*).render

  // ---- Spark pushdown: sources.Filter → DSL --------------------------

  import org.apache.spark.sql.sources._

  /** Translate one Spark data-source pushdown filter to ES DSL.
    * `None` = not translatable; the caller keeps it as a residual for
    * Spark-side evaluation (the standard pushdown contract — never
    * drop an untranslatable predicate). */
  def fromFilter(f: Filter): Option[J] = f match {
    case EqualTo(a, v) if v != null => Some(term(a, String.valueOf(v)))
    case In(a, vs) =>
      // SQL IN never matches a null element (unknown → filtered), so
      // nulls simply drop from the terms list; all-null degenerates to
      // match-nothing rather than an (invalid) empty terms array
      val nn = vs.toSeq.filter(_ != null).map(String.valueOf)
      Some(if (nn.isEmpty) bool(mustNot = Seq(JObj("match_all" -> JObj())))
           else terms(a, nn))
    case GreaterThanOrEqual(a, v) =>
      Some(range(a, Some(String.valueOf(v)), None))
    case GreaterThan(a, v) =>
      Some(JObj("range" -> JObj(a -> JObj("gt" -> JStr(String.valueOf(v))))))
    case LessThanOrEqual(a, v) =>
      Some(range(a, None, Some(String.valueOf(v))))
    case LessThan(a, v) =>
      Some(JObj("range" -> JObj(a -> JObj("lt" -> JStr(String.valueOf(v))))))
    case IsNotNull(a) => Some(exists(a))
    case IsNull(a) => Some(bool(mustNot = Seq(exists(a))))
    case StringStartsWith(a, v) =>
      Some(JObj("prefix" -> JObj(a -> JStr(v))))
    case And(l, r) => for (lj <- fromFilter(l); rj <- fromFilter(r))
      yield bool(must = Seq(lj, rj))
    case Or(l, r) => for (lj <- fromFilter(l); rj <- fromFilter(r))
      yield bool(should = Seq(lj, rj))
    // General Not does NOT translate: ES must_not(term(x,1)) matches
    // documents MISSING x, but SQL NOT(x=1) is unknown→filtered on
    // null x — pushing it would return extra rows with no residual
    // re-check. Only the null-test negations are 3VL-safe.
    case Not(IsNull(a)) => Some(exists(a))
    case Not(IsNotNull(a)) => Some(bool(mustNot = Seq(exists(a))))
    case _ => None
  }

  /** Translate a filter set: the pushable conjunction as one
    * constant-score DSL body, plus the residual filters Spark must
    * still evaluate. */
  def fromFilters(fs: Seq[Filter]): (String, Seq[Filter]) = {
    val translated = fs.map(f => f -> fromFilter(f))
    val residual = translated.collect { case (f, None) => f }
    val q = translated.flatMap(_._2) match {
      case Seq() => JObj("match_all" -> JObj())
      case Seq(one) => one
      case many => bool(must = many.toSeq)
    }
    (searchBody(constantScore(q)), residual)
  }

  // ---- the reference's four query shapes, verbatim structure ---------

  /** Eligible-person filter (P5+P7+P8): tenant term, household exists,
    * and NOT (nested history.retained exists) — ref :315-341. */
  def eligiblePersonFilter(clientCode: String): J = bool(
    must = Seq(
      term("client_code", clientCode),
      exists("household.household_id")),
    mustNot = Seq(
      nested("household_retention_history",
        exists("household_retention_history.retained"))))

  /** The phase-gate probe (A6): households with ≥1 recent encounter
    * and no retention yet — ref :170-221, incl. the has_child (J8)
    * with the child-side term+range. */
  def householdsWithoutRetention(clientCode: String, resultLimit: Int): String =
    JObj(
      "size" -> JNum(0),
      "_source" -> JArr(Seq(JStr("household.household_id"))),
      "query" -> constantScore(bool(
        must = Seq(
          term("client_code", clientCode),
          hasChild("encounter", bool(must = Seq(
            term("client_code", clientCode),
            range("admit_date", Some("now-4y"), Some("now"))))),
          exists("household.household_id")),
        mustNot = Seq(
          nested("household_retention_history",
            exists("household_retention_history.retained"))))),
      "aggs" -> JObj("all_households" -> JObj("terms" -> JObj(
        "field" -> JStr("household.household_id"),
        "size" -> JNum(resultLimit.toLong),
        "order" -> JObj("_term" -> JStr("asc")))))).render

  /** Count probe for unprocessed persons (size 0) — ref :315-341. */
  def personsWithoutRetention(clientCode: String): String =
    searchBody(constantScore(eligiblePersonFilter(clientCode)),
      size = Some(0))

  /** Encounter scan (S2): tenant term + 5y admit-date window +
    * has_parent(eligible person) — ref :352-391. */
  def encounterSourceQuery(clientCode: String): String =
    searchBody(constantScore(bool(must = Seq(
      term("client_code", clientCode),
      range("admit_date", Some("now-5y"), Some("now")),
      hasParent("person", eligiblePersonFilter(clientCode))))))

  /** Person scan (S3/S4) — ref :707-724. */
  def personSourceQuery(clientCode: String): String =
    searchBody(constantScore(eligiblePersonFilter(clientCode)))
}

/** The connector seam: what a live deployment binds to
  * `elasticsearch-spark` (see [[EsDsl]] scaladoc for the 8-line
  * binding). `searchJson` is the `esJsonRDD` shape — (doc id, source
  * JSON) pairs; `upsertWithMeta` the `saveToEsWithMeta` shape. */
trait EsTransport {
  def searchJson(resource: String, query: String,
                 options: Map[String, String]): RDD[(String, String)]
  def upsertWithMeta(docs: RDD[(String, String)], resource: String,
                     conf: Map[String, String]): Unit
}

/** S2-S4/S7 contracts over an [[EsTransport]]. */
final class EsAdapter(spark: SparkSession, transport: EsTransport,
                      indexName: String) {
  import spark.implicits._

  /** Generic scan: DSL + source filter → DataFrame, the reference's
    * exact read path (esJsonRDD → json strings → spark.read.json,
    * ref :399-409). Schema inference over the returned docs mirrors
    * S5. */
  def readSource(resource: String, query: String,
                 sourceFields: Seq[String]): DataFrame = {
    val opts = Map(
      "es.read.source.filter" -> sourceFields.mkString(","),
      "es.read.metadata" -> "true")
    val json = transport.searchJson(s"$indexName/$resource", query, opts)
      .map(_._2)
    spark.read.json(spark.createDataset(json))
  }

  /** S2: the encounter scan with pushed-down tenant/date/has_parent. */
  def encounters(clientCode: String): DataFrame =
    readSource("encounter", EsDsl.encounterSourceQuery(clientCode),
      Seq("admit_date"))

  /** S3/S4: the eligible-person scan. */
  def persons(clientCode: String): DataFrame =
    readSource("person", EsDsl.personSourceQuery(clientCode),
      Seq("household.household_id"))

  /** S7: per-person whole-array upsert of retention history — the
    * §3.3 idempotency contract (REPLACE the array, never append).
    * Document assembly is Spark-native: one groupBy on person, rows
    * ordered by range start inside the aggregation (deterministic
    * array order — the reference's RDD groupBy emits nondeterministic
    * order, a re-run diff this adapter removes), `to_json` for the
    * serialization; the driver never touches a row. */
  def writeRetention(history: DataFrame,
                     conf: Map[String, String] = Map.empty): Unit = {
    val docs = EsAdapter.upsertDocs(history)
      .as[(String, String)].rdd
    transport.upsertWithMeta(docs, s"$indexName/person",
      Map("es.write.operation" -> "upsert") ++ conf)
  }
}

object EsAdapter {

  /** The (person id, upsert document JSON) assembly for
    * [[EsAdapter.writeRetention]] — exposed for contract tests.
    * Input columns: person_id, start_date_epoch, end_date_epoch,
    * start_date, end_date, retained (the reference's write shape,
    * ref :279-295). */
  def upsertDocs(history: DataFrame): DataFrame =
    history
      .groupBy(col("person_id"))
      .agg(array_sort(collect_list(struct(
        col("start_date_epoch"), // leading sort key
        struct(col("start_date_epoch").as("gte"),
               col("end_date_epoch").as("lte")).as("date_range"),
        struct(col("start_date").as("gte"),
               col("end_date").as("lte")).as("date_range_alt"),
        col("retained")))).as("sorted"))
      .select(col("person_id").cast("string").as("id"),
        to_json(struct(transform(col("sorted"),
          e => struct(e.getField("date_range").as("date_range"),
                      e.getField("date_range_alt").as("date_range_alt"),
                      e.getField("retained").as("retained")))
          .as("household_retention_history"))).as("doc"))
}
