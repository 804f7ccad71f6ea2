package graft

import org.apache.spark.sql.DataFrame

import graft.compile.{ConstraintCompiler, JsonSchemaImport}
import graft.exec.Validator

/** The importer bridge: real JSON Schema documents (the reference's
  * native input language, SchemaCompiler.java:38-40) translated onto
  * the DSL and validated against rows — including the draft-interop
  * forms (draft-4 boolean exclusiveMinimum, draft-7 array items /
  * additionalItems) and $defs/$ref inlining. */
class JsonSchemaImportSpec extends SparkSpec {
  import spark.implicits._

  private def verdicts(schema: String, df: DataFrame): Map[String, Boolean] = {
    val suite = ConstraintCompiler.compile(JsonSchemaImport.translate(schema))
    df.withColumn("ok", suite.rowPredicate)
      .select("doc_id", "ok").as[(String, Boolean)].collect().toMap
  }

  test("the north-star sequence schema as an actual JSON Schema document") {
    val schema = """{
      "$id": "sequences-v1",
      "type": "object",
      "required": ["doc_id", "tokens"],
      "properties": {
        "doc_id": {"type": "string", "minLength": 1},
        "n_tok": {"type": "integer", "minimum": 1, "maximum": 8192},
        "tokens": {
          "type": "array",
          "items": {"type": "integer", "minimum": 0, "maximum": 50256},
          "minItems": 1
        },
        "source": {"enum": ["web", "books", "code"]}
      }
    }"""
    val df = Seq(
      ("good", Seq(1, 50256), 2, "web"),
      ("tok_oob", Seq(1, 99999), 2, "web"),
      ("bad_src", Seq(1), 1, "mars"),
      ("empty_tokens", Seq.empty[Int], 0, "books"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    assert(verdicts(schema, df) == Map(
      "good" -> true, "tok_oob" -> false, "bad_src" -> false,
      "empty_tokens" -> false))
    val imported = JsonSchemaImport.translate(schema)
    assert(imported.id == "sequences-v1") // $id becomes the suite id
  }

  test("draft-4 boolean exclusiveMinimum and draft-7 array items") {
    // draft-4: {"minimum": 0, "exclusiveMinimum": true} means > 0
    val d4 = """{
      "type": "object",
      "properties": {
        "n_tok": {"minimum": 0, "exclusiveMinimum": true},
        "tokens": {
          "items": [{"maximum": 9}, {"maximum": 99}],
          "additionalItems": {"maximum": 999}
        }
      }
    }"""
    val df = Seq(
      ("pos", Seq(1, 50, 500), 1),
      ("zero", Seq(1), 0),             // 0 is NOT > 0
      ("prefix0_bad", Seq(10, 50), 1), // pos 0 must be <= 9
      ("tail_bad", Seq(1, 50, 5000), 1))
      .toDF("doc_id", "tokens", "n_tok")
    assert(verdicts(d4, df) == Map(
      "pos" -> true, "zero" -> false, "prefix0_bad" -> false,
      "tail_bad" -> false))
    // 2020-12 numeric form of the same bound
    val d2020 = """{
      "type": "object",
      "properties": {"n_tok": {"exclusiveMinimum": 0}}
    }"""
    assert(verdicts(d2020, df.filter($"doc_id".isin("pos", "zero"))) ==
      Map("pos" -> true, "zero" -> false))
  }

  test("$defs inlined at each ref site; cycles are descriptive errors") {
    val schema = """{
      "type": "object",
      "$defs": {"port": {"type": "integer", "minimum": 1, "maximum": 65535}},
      "properties": {
        "n_tok": {"$ref": "#/$defs/port"},
        "tokens": {"items": {"$ref": "#/$defs/port"}}
      }
    }"""
    val df = Seq(
      ("ok", Seq(80, 443), 8080),
      ("bad_col", Seq(80), 0),
      ("bad_elem", Seq(80, 70000), 8080))
      .toDF("doc_id", "tokens", "n_tok")
    // the SAME def lands on a top-level column AND an array element
    assert(verdicts(schema, df) == Map(
      "ok" -> true, "bad_col" -> false, "bad_elem" -> false))

    val cyclic = """{
      "type": "object",
      "$defs": {"a": {"$ref": "#/$defs/a"}},
      "properties": {"n_tok": {"$ref": "#/$defs/a"}}
    }"""
    val e = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate(cyclic)
    }
    assert(e.getMessage.contains("cyclic"))
  }

  test("open-keyed object subschemas target map columns") {
    val schema = """{
      "type": "object",
      "properties": {
        "attrs": {
          "patternProperties": {"^x-": {"pattern": "^[0-9]+$"}},
          "propertyNames": {"maxLength": 8},
          "minProperties": 1
        }
      }
    }"""
    val df = Seq(
      ("ok", Map("x-a" -> "12", "note" -> "y")),
      ("bad_val", Map("x-a" -> "oops")),
      ("long_key", Map("extremely-long-key" -> "1")),
      ("empty", Map.empty[String, String]))
      .toDF("doc_id", "attrs")
    assert(verdicts(schema, df) == Map(
      "ok" -> true, "bad_val" -> false, "long_key" -> false,
      "empty" -> false))
  }

  test("arrays of records: items.properties maps to element fields") {
    val schema = """{
      "type": "object",
      "properties": {
        "spans": {
          "items": {
            "type": "object",
            "properties": {"len": {"minimum": 1}},
            "required": ["len"]
          }
        }
      }
    }"""
    val df = Seq(
      ("ok", Seq((1, "a"), (5, "b"))),
      ("bad_len", Seq((0, "a"))))
      .toDF("doc_id", "spans_raw")
      .selectExpr("doc_id",
        "transform(spans_raw, s -> named_struct('len', s._1, 'tag', s._2)) as spans")
    assert(verdicts(schema, df) == Map("ok" -> true, "bad_len" -> false))
  }

  test("combinators, if/then/else and dependentRequired at the row level") {
    val schema = """{
      "type": "object",
      "properties": {
        "source": {"type": "string"},
        "n_tok": {}
      },
      "if": {"properties": {"source": {"const": "code"}}},
      "then": {"properties": {"n_tok": {"maximum": 100}}},
      "else": {"properties": {"n_tok": {"maximum": 10}}},
      "dependentRequired": {"n_tok": ["source"]}
    }"""
    val df = Seq(
      ("code_ok", "code", Some(100)),
      ("code_big", "code", Some(101)),
      ("web_ok", "web", Some(10)),
      ("web_big", "web", Some(11)),
      ("no_src", null: String, Some(5)))
      .toDF("doc_id", "source", "n_tok")
    assert(verdicts(schema, df) == Map(
      "code_ok" -> true, "code_big" -> false, "web_ok" -> true,
      "web_big" -> false, "no_src" -> false))
  }

  test("minimum and numeric exclusiveMinimum both bind independently") {
    // 2020-12: both keywords assert; neither may shadow the other
    val schema = """{
      "type": "object",
      "properties": {"n_tok": {"minimum": 0, "exclusiveMinimum": 5}}
    }"""
    val df = Seq(("below_x", 3), ("at_x", 5), ("above", 6))
      .toDF("doc_id", "n_tok")
    assert(verdicts(schema, df) == Map(
      "below_x" -> false, "at_x" -> false, "above" -> true))
  }

  test("additionalItems without array-form items is ignored (draft-7)") {
    val schema = """{
      "type": "object",
      "properties": {
        "tokens": {"additionalItems": {"maximum": 5}, "minItems": 1}
      }
    }"""
    // [10, 2000] would fail a maximum-5 element check — additionalItems
    // must NOT bind without array-form items
    val df = Seq(("any", Seq(10, 2000))).toDF("doc_id", "tokens")
    assert(verdicts(schema, df) == Map("any" -> true))
  }

  test("properties + additionalProperties:false stays struct-flavored") {
    // the standard CLOSED-object idiom must recurse into struct paths,
    // not emit map operators that would crash on a struct column
    val schema = """{
      "type": "object",
      "properties": {
        "meta": {
          "type": "object",
          "properties": {"q": {"minimum": 0}},
          "required": ["q"],
          "additionalProperties": false
        }
      }
    }"""
    val df = Seq(
      ("present_ok", Some((5, "x"))),
      ("present_bad", Some((-1, "x"))),
      ("absent_parent", None))
      .toDF("doc_id", "meta_raw")
      .selectExpr("doc_id",
        "CASE WHEN meta_raw IS NULL THEN NULL " +
          "ELSE named_struct('q', meta_raw._1, 'tag', meta_raw._2) END AS meta")
    // nested required applies only when the parent object is present
    assert(verdicts(schema, df) == Map(
      "present_ok" -> true, "present_bad" -> false,
      "absent_parent" -> true))
    // but a present parent with a null field violates it
    val df2 = Seq(("null_field", 1)).toDF("doc_id", "x")
      .selectExpr("doc_id",
        "named_struct('q', CAST(NULL AS INT), 'tag', 'y') AS meta")
    assert(verdicts(schema, df2) == Map("null_field" -> false))
  }

  test("numeric enum members compare by value, not lexeme") {
    val schema = """{
      "type": "object",
      "properties": {"score": {"enum": [1, 2.5]}}
    }"""
    val df = Seq(("one", 1.0), ("twofive", 2.5), ("other", 1.5))
      .toDF("doc_id", "score")
    assert(verdicts(schema, df) == Map(
      "one" -> true, "twofive" -> true, "other" -> false))
    // non-scalar const refuses instead of comparing against ""
    val e = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate(
        """{"type":"object","properties":{"a":{"const":{"b":1}}}}""")
    }
    assert(e.getMessage.contains("not scalar"))
  }

  test("numeric keywords on string columns: no ANSI crash") {
    // enum member 5 against string content: content-typed value match,
    // and junk content is a clean non-match — never a task failure
    val schema = """{
      "type": "object",
      "properties": {"source": {"enum": [5, "web"]}}
    }"""
    val df = Seq(("txt", "web"), ("num", "5"), ("junk", "abc"))
      .toDF("doc_id", "source")
    assert(verdicts(schema, df) == Map(
      "txt" -> true, "num" -> true, "junk" -> false))

    // minimum and multipleOf over string content, each alone: junk is
    // a clean violation, numeric content is checked by value
    val nums = Seq(("junk", "abc"), ("nine", "9"), ("two", "2"),
      ("ten", "10")).toDF("doc_id", "source")
    def imported(keyword: String) = verdicts(
      s"""{"type":"object","properties":{"source":{"$keyword":3}}}""", nums)
    assert(imported("minimum") == Map(
      "junk" -> false, "nine" -> true, "two" -> false, "ten" -> true))
    assert(imported("multipleOf") == Map(
      "junk" -> false, "nine" -> true, "two" -> false, "ten" -> false))
  }

  test("row-level open-key object keywords are refused") {
    val e = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate(
        """{"type":"object","patternProperties":{"^x":{}}}""")
    }
    assert(e.getMessage.contains("ROW level"))
    // closed ROOT object (properties + additionalProperties:false) is
    // the structural no-op, not an error
    val s = JsonSchemaImport.translate("""{
      "type": "object", "additionalProperties": false,
      "properties": {"n_tok": {"minimum": 0}}}""")
    assert(s.constraints.nonEmpty)
  }

  test("ref resolution error surface: unknown document, missing " +
      "anchor, dead pointer — all descriptive") {
    // unknown remote document names the miss AND the remotes parameter
    val e1 = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate("""{"type":"object","properties":
        {"n_tok":{"$ref":"http://elsewhere.example/x.json"}}}""")
    }
    assert(e1.getMessage.contains("http://elsewhere.example/x.json"))
    assert(e1.getMessage.contains("remotes"))
    // anchor missing from an otherwise-known document
    val e2 = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate("""{"type":"object",
        "$defs":{"a":{"$anchor":"real","minimum":0}},
        "properties":{"n_tok":{"$ref":"#ghost"}}}""")
    }
    assert(e2.getMessage.contains("ghost"))
    // JSON pointer with no target
    val e3 = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate("""{"type":"object",
        "$defs":{"a":{"minimum":0}},
        "properties":{"n_tok":{"$ref":"#/$defs/missing"}}}""")
    }
    assert(e3.getMessage.contains("/$defs/missing"))
    // a remote that is not valid JSON names the offending URI
    val e4 = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate(
        """{"type":"object","properties":
          {"n_tok":{"$ref":"http://h/bad.json"}}}""",
        remotes = Map("http://h/bad.json" -> "not json {"))
    }
    assert(e4.getMessage.contains("http://h/bad.json"))
  }

  test("$recursiveRef: only the value '#' is legal; a same-depth " +
      "self-reference still raises the cycle error") {
    // 2019-09 grammar: $recursiveRef must be exactly "#"
    val e1 = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate("""{"type":"object",
        "properties":{"a":{"$recursiveRef":"#/$defs/x"}},
        "$defs":{"x":{"minimum":0}}}""")
    }
    assert(e1.getMessage.contains("$recursiveRef"))
    assert(e1.getMessage.contains("#"))
    // a root-level $recursiveRef consumes no instance nesting — the
    // same no-progress cycle error as $ref "#"
    val e2 = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate(
        """{"type":"object","$recursiveAnchor":true,
           "allOf":[{"$recursiveRef":"#"}]}""")
    }
    assert(e2.getMessage.contains("cyclic"))
  }

  test("$id inside enum values is data, not an identifier") {
    // official-suite unknownKeyword.json property: identifier-shaped
    // keys inside DATA keywords must not be indexed — a $ref to the
    // decoy URI must fail as unknown, never resolve to the enum member
    val e = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate("""{"type":"object",
        "$defs":{"decoy":{"enum":[{"$id":"https://x/int.json","maximum":5}]}},
        "properties":{"n_tok":{"$ref":"https://x/int.json"}}}""")
    }
    assert(e.getMessage.contains("unknown document"))
    assert(e.getMessage.contains("https://x/int.json"))
  }

  test("unknown assertion keyword refuses to under-enforce") {
    val e = intercept[JsonSchemaImport.ImportException] {
      JsonSchemaImport.translate(
        """{"type":"object","properties":{"a":{"frobnicate":1}}}""")
    }
    assert(e.getMessage.contains("frobnicate"))
    // annotations are fine
    val s = JsonSchemaImport.translate("""{
      "type": "object", "title": "t", "description": "d",
      "properties": {"n_tok": {"minimum": 0, "$comment": "x"}}}""")
    assert(s.constraints.nonEmpty)
  }
}
