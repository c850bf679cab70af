package graft.schema

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.model.EventRow

/** JSON-schema registry + validator with the reference's exact acceptance
  * law (reference: src/schema.ts:27-165):
  *
  *   - no schema registered for the event type → valid (schema.ts:50-53)
  *   - schemaVersion mismatch → warn, validate anyway (schema.ts:56-61)
  *   - type check per JSON type; UNKNOWN declared types pass (schema.ts:144-165)
  *   - `integer` means a whole NUMBER, JS-style: 5.0 is an integer
  *     (schema.ts:150-151 via Number.isInteger)
  *   - objects: declared `required` props must exist; declared props
  *     recurse; EXTRA props pass (schema.ts:91-127)
  *   - arrays: every item validates against `items` (schema.ts:130-136)
  *
  * `from_json` coercion can NOT express this (it coerces rather than
  * rejects, and has no required-prop law), hence a hand-rolled recursion
  * over Jackson nodes (SURVEY.md §4.3). Spark-side enforcement is a UDF:
  * the registry map is tiny and serializes to executors with the closure;
  * validation stays a per-row narrow op at any scale.
  */
final class SchemaRegistry extends Serializable {

  private val schemas = TrieMap.empty[String, (String, String)] // type -> (schemaJson, version)

  @transient private lazy val mapper = new ObjectMapper()

  /** Register a schema (as JSON text) for an event type
    * (reference: src/schema.ts:33-42 — rejects non-object schemas).
    */
  def registerSchema(eventType: String, schemaJson: String, version: String): Unit = {
    val node = mapper.readTree(schemaJson)
    require(node != null && node.isObject, "Schema must be a valid JSON schema object")
    schemas.put(eventType, (schemaJson, version))
  }

  def getSchemas: Map[String, (String, String)] = schemas.toMap

  /** Validate an event's payload against its type's registered schema
    * (reference: src/schema.ts:47-64).
    */
  def validate(event: EventRow): Boolean =
    validatePayload(event.`type`, event.schemaVersion, event.payload)

  def validatePayload(eventType: String, schemaVersion: String, payloadJson: String): Boolean =
    schemas.get(eventType) match {
      case None => true // unregistered types are vacuously valid
      case Some((schemaJson, version)) =>
        if (schemaVersion != version)
          SchemaRegistry.warnVersionMismatch(eventType, version, schemaVersion)
        val schema = mapper.readTree(schemaJson)
        val data =
          try mapper.readTree(payloadJson)
          catch { case _: Exception => return false } // unparseable payload can't validate
        validateAgainstSchema(data, schema)
    }

  /** The recursive structural check (reference: src/schema.ts:85-139). */
  private def validateAgainstSchema(data: JsonNode, schema: JsonNode): Boolean = {
    val declaredType = Option(schema.get("type")).filter(_.isTextual).map(_.asText)

    if (declaredType.exists(t => !validateType(data, t))) return false

    if (declaredType.contains("object")) {
      val req = schema.get("required")
      if (req != null && req.isArray && data != null && data.isObject) {
        val it = req.elements()
        while (it.hasNext) {
          val propName = it.next().asText()
          if (!data.has(propName)) return false
        }
      }
      val props = schema.get("properties")
      if (props != null && props.isObject && data != null && data.isObject) {
        val fields = props.properties().iterator()
        while (fields.hasNext) {
          val e = fields.next()
          if (data.has(e.getKey) &&
            !validateAgainstSchema(data.get(e.getKey), e.getValue)) return false
        }
      }
    }

    if (declaredType.contains("array") && schema.has("items") && data != null && data.isArray) {
      val it = data.elements()
      while (it.hasNext) {
        if (!validateAgainstSchema(it.next(), schema.get("items"))) return false
      }
    }

    true
  }

  /** JSON-type dispatch (reference: src/schema.ts:144-165). `data == null`
    * guards match the JS `typeof` semantics on a parsed tree.
    */
  private def validateType(data: JsonNode, tpe: String): Boolean = {
    val d = if (data == null) mapper.nullNode().asInstanceOf[JsonNode] else data
    tpe match {
      case "string"  => d.isTextual
      case "number"  => d.isNumber
      case "integer" => d.isNumber && (d.isIntegralNumber || d.asDouble() % 1 == 0)
      case "boolean" => d.isBoolean
      case "array"   => d.isArray
      case "object"  => d.isObject && !d.isArray && !d.isNull
      case "null"    => d.isNull
      case _         => true // unknown types pass validation
    }
  }

  /** DataFrame-level validation column: `isValidPayload(type, schemaVersion,
    * payload)`. A Scala UDF (not codegen) is the documented trade-off
    * (SURVEY.md §4.3): correctness-exact vs schema.ts, per-row narrow,
    * upgradeable to a Catalyst expression if it ever shows up in a profile.
    */
  def validationColumn(tpe: Column, version: Column, payload: Column): Column = {
    val self = this
    val fn = udf((t: String, v: String, p: String) => self.validatePayload(t, v, p))
    fn(tpe, version, payload)
  }
}

object SchemaRegistry {

  /** Version-mismatch warnings, rate-limited to ONE line per distinct
    * (type, expected, got) per JVM. The reference warns per EVENT
    * (schema.ts:56-61) — parity on the lossy path is the warn itself,
    * not its line count, and at 100 TB a schema rollout emitting one
    * stderr line per validated row on every executor is an operational
    * hazard, not a feature. The map is bounded: past `MaxWarnKeys`
    * distinct mismatches, one overflow notice prints and further NEW
    * keys are silent (already-seen keys were warned). Validation
    * semantics are untouched — mismatched versions still validate.
    */
  private[schema] val MaxWarnKeys = 1000

  private val warned =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), java.lang.Boolean]()

  private val overflowNoted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Spec hook: distinct mismatch keys warned so far this JVM. */
  private[graft] def warnedCount: Int = warned.size

  private def warnVersionMismatch(eventType: String, expected: String,
      got: String): Unit = {
    val key = (eventType, expected, got)
    if (warned.containsKey(key)) return
    if (warned.size >= MaxWarnKeys) {
      if (overflowNoted.compareAndSet(false, true))
        System.err.println(
          s"Event schema version mismatch: more than $MaxWarnKeys distinct " +
            "(type, expected, got) combinations — further warnings suppressed")
      return
    }
    if (warned.putIfAbsent(key, java.lang.Boolean.TRUE) == null)
      System.err.println(
        s"Event schema version mismatch: expected $expected, got $got")
  }
}
