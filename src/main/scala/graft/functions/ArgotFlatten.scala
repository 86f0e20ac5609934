package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Native flatten + suffix transform for Argot-style JSON records
  * (reference O7).
  *
  * The reference delegates this to the external `argot ingest` Ruby gem
  * (/root/reference/ingest/ingest.go:29-31; /root/reference/README.md:99-103
  * "flattens and suffixes the Argot records ... and then submits the
  * results to Solr").  The gem's exact byte-level behavior is not
  * recoverable from the reference repo (SURVEY.md §7.3), so the engine
  * defines its own precise spec, kept in-JVM so the transform runs
  * inside Spark tasks with no subprocess:
  *
  *  - Nested object keys are joined with '_' (`{"a":{"b":1}}` → key `a_b`).
  *  - Arrays are multi-valued: elements of the same type land in the
  *    same key's value list, in document order; arrays of objects
  *    recurse with the same parent path.
  *  - Every leaf is rendered as text: strings verbatim, numbers in
  *    Jackson's canonical text form (`1e3` → "1000.0", `1.50` → "1.5" —
  *    NOT the raw source bytes), booleans `true`/`false`; nulls dropped.
  *  - Solr-dynamic-field suffix typing: `_t` string, `_i` integral,
  *    `_f` fractional, `_b` boolean, appended to the flattened key.
  *    Each element is keyed by its OWN type suffix, so a mixed-type
  *    array fans out into sibling keys (`{"a":[1,"x"]}` → `a_i:["1"],
  *    a_t:["x"]`).
  *
  * Output is `Map[String, Array[String]]` — the shape Solr dynamic
  * fields expect and what the chunked sink serializes back to NDJSON.
  */
object ArgotFlatten {

  private val mapper = new ObjectMapper()

  private def suffixFor(n: JsonNode): String =
    if (n.isTextual) "_t"
    else if (n.isIntegralNumber) "_i"
    else if (n.isNumber) "_f"
    else if (n.isBoolean) "_b"
    else "_t"

  /** Pure flatten: JSON text → flat multi-valued map.  Invalid JSON or
    * non-object roots yield an empty map (soft error — callers that
    * count them use [[flattenEither]] or [[flattenOrError]]).
    */
  def flatten(json: String): Map[String, Seq[String]] =
    flattenEither(json).getOrElse(Map.empty)

  /** Flatten with parse failures surfaced: Left(reason) for malformed
    * JSON or a non-object root, so pipelines can count soft errors
    * exactly (reference bug B10's fix needs exact counts, not a lossy
    * channel).  A null/empty input is NOT an error — the reference's
    * source can legitimately hand over empty content.
    */
  def flattenEither(json: String): Either[String, Map[String, Seq[String]]] = {
    if (json == null || json.isEmpty) return Right(Map.empty)
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => return Left(s"malformed JSON: ${e.getMessage}") }
    if (root == null) return Right(Map.empty)
    if (!root.isObject) return Left(s"root is ${root.getNodeType}, not an object")
    Right(flattenObject(root))
  }

  private def flattenObject(root: JsonNode): Map[String, Seq[String]] = {

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    def add(key: String, value: String): Unit =
      out(key) = out.getOrElse(key, Vector.empty) :+ value

    def walk(prefix: String, node: JsonNode): Unit = {
      if (node.isObject) {
        val it = node.fields()
        while (it.hasNext) {
          val e = it.next()
          val child = if (prefix.isEmpty) e.getKey else s"${prefix}_${e.getKey}"
          walk(child, e.getValue)
        }
      } else if (node.isArray) {
        val it = node.elements()
        while (it.hasNext) walk(prefix, it.next())
      } else if (node.isNull) {
        // dropped
      } else {
        add(prefix + suffixFor(node), node.asText)
      }
    }
    walk("", root)
    out.view.mapValues(_.toSeq).toMap
  }

  /** Column form for DataFrame pipelines:
    * `df.withColumn("flat", ArgotFlatten.flattenArgot($"content"))`.
    * A Scala UDF (not codegen'd) — acceptable because the transform is
    * once-per-record CPU work dominated by JSON parsing either way; a
    * Catalyst Expression promotion is the flagged follow-up if bench
    * demands (SURVEY.md §4.2).
    */
  val flattenArgot: Column => Column = {
    val f = udf((s: String) => flatten(s))
    (c: Column) => f(c)
  }

  /** Flatten and parse-failure reason in one column, from ONE parse:
    * a struct `(_1: flat map, _2: reason)` — `_2` is null and `_1` the
    * flat map when the content flattens cleanly, `_1` is null and `_2`
    * the reason otherwise.  Lets callers both build documents and count
    * soft errors with an ordinary (exact, deterministic) aggregation —
    * accumulators inside transformations over-count whenever the plan
    * evaluates rows more than once (e.g. range-partition sampling
    * before a chunked write), so they are kept for diagnostics only.
    */
  val flattenOrError: Column => Column = {
    val f = udf((s: String) => flattenEither(s) match {
      case Right(m) => (m, null: String)
      case Left(e) => (null: Map[String, Seq[String]], e)
    })
    (c: Column) => f(c)
  }
}
