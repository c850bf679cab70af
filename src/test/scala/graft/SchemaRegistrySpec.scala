package graft

import java.sql.Timestamp

import graft.model.EventRow
import graft.schema.SchemaRegistry

/** The acceptance law of reference src/schema.ts:27-165 (FIXTURES.md §A). */
class SchemaRegistrySpec extends SparkSpec {

  private val userSchema =
    """{"type":"object","required":["userId","username","email"],
      |"properties":{"userId":{"type":"string"},"username":{"type":"string"},
      |"email":{"type":"string"}}}""".stripMargin

  private def event(tpe: String, payload: String, version: String = "1.0") =
    EventRow("id1", tpe, "t", new Timestamp(0), version, payload, Map.empty)

  private def registry() = {
    val r = new SchemaRegistry
    r.registerSchema("user.created", userSchema, "1.0")
    r
  }

  test("unregistered event types pass (schema.ts:50-53)") {
    assert(registry().validate(event("unknown.type", """{"anything":1}""")))
  }

  test("valid payload passes; missing required prop fails (schema.ts:91-103)") {
    val r = registry()
    assert(r.validate(event("user.created",
      """{"userId":"1","username":"u","email":"e@x.com"}""")))
    assert(!r.validate(event("user.created", """{"userId":"1","username":"u"}""")))
  }

  test("wrong declared type fails; extra properties pass (schema.ts:107-127)") {
    val r = registry()
    assert(!r.validate(event("user.created",
      """{"userId":42,"username":"u","email":"e"}""")))
    assert(r.validate(event("user.created",
      """{"userId":"1","username":"u","email":"e","extra":{"deep":[1]}}""")))
  }

  test("version mismatch warns but still validates (schema.ts:56-61)") {
    val r = registry()
    assert(r.validate(event("user.created",
      """{"userId":"1","username":"u","email":"e"}""", version = "2.0")))
    assert(!r.validate(event("user.created", """{}""", version = "2.0")))
  }

  test("integer accepts whole numbers JS-style; number accepts any numeric (schema.ts:144-151)") {
    val r = new SchemaRegistry
    r.registerSchema("m", """{"type":"object","properties":{"n":{"type":"integer"}}}""", "1.0")
    assert(r.validate(event("m", """{"n":5}""")))
    assert(r.validate(event("m", """{"n":5.0}"""))) // Number.isInteger(5.0) === true
    assert(!r.validate(event("m", """{"n":5.5}""")))
    assert(!r.validate(event("m", """{"n":"5"}""")))
  }

  test("array items validate recursively (schema.ts:130-136)") {
    val r = new SchemaRegistry
    r.registerSchema("l",
      """{"type":"object","properties":{"xs":{"type":"array","items":{"type":"string"}}}}""",
      "1.0")
    assert(r.validate(event("l", """{"xs":["a","b"]}""")))
    assert(!r.validate(event("l", """{"xs":["a",1]}""")))
    assert(r.validate(event("l", """{"xs":[]}""")))
  }

  test("unknown declared types pass; null type; non-object schema rejected (schema.ts:33-42,160-163)") {
    val r = new SchemaRegistry
    r.registerSchema("w", """{"type":"object","properties":{"x":{"type":"custom-thing"}}}""", "1.0")
    assert(r.validate(event("w", """{"x":123}""")))
    r.registerSchema("z", """{"type":"object","properties":{"x":{"type":"null"}}}""", "1.0")
    assert(r.validate(event("z", """{"x":null}""")))
    assert(!r.validate(event("z", """{"x":1}""")))
    intercept[IllegalArgumentException](r.registerSchema("bad", """"not-an-object"""", "1.0"))
  }

  test("getSchemas dumps the registry (schema.ts:69-78)") {
    val r = registry()
    r.registerSchema("other", """{"type":"object"}""", "2.1")
    val dump = r.getSchemas
    assert(dump.keySet == Set("user.created", "other"))
    assert(dump("other")._2 == "2.1")
  }

  test("version-mismatch warn is ONE line per (type, expected, got) per JVM; " +
      "validation semantics unchanged") {
    // unique keys: the rate-limit map is JVM-global by design
    val tpe = s"rl-${java.util.UUID.randomUUID().toString.take(8)}"
    val r = new SchemaRegistry
    r.registerSchema(tpe, """{"type":"object","required":["a"]}""", "2.0")
    val buf = new java.io.ByteArrayOutputStream()
    val prior = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try {
      // N mismatched rows: still validated (warn-and-validate parity,
      // schema.ts:56-61) — valid payloads pass, invalid ones fail
      (1 to 500).foreach { _ =>
        assert(r.validatePayload(tpe, "1.0", """{"a":1}"""))
        assert(!r.validatePayload(tpe, "1.0", """{}"""))
      }
      (1 to 500).foreach(_ => assert(r.validatePayload(tpe, "3.0", """{"a":1}""")))
    } finally System.setErr(prior)
    val lines = buf.toString("UTF-8").linesIterator
      .filter(_.contains("schema version mismatch")).toSeq
    assert(lines.count(_.contains("got 1.0")) == 1,
      s"1000 rows of one mismatch key must warn once, got:\n${lines.mkString("\n")}")
    assert(lines.count(_.contains("got 3.0")) == 1,
      "a NEW (type, expected, got) key gets its own single warn")
  }

  test("validation column works as a DataFrame predicate at query level") {
    import spark.implicits._
    val r = registry()
    val df = Seq(
      ("user.created", "1.0", """{"userId":"1","username":"u","email":"e"}"""),
      ("user.created", "1.0", """{"userId":"1"}"""),
      ("other.type", "1.0", """{}""")
    ).toDF("type", "schemaVersion", "payload")
    val valid = df.withColumn("ok",
      r.validationColumn($"type", $"schemaVersion", $"payload"))
      .where($"ok").count()
    assert(valid == 2)
  }
}
