package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Spark tests of the jq surface: mirrors JsonQueryUDTFTest.java
  * plus the README's LATERAL VIEW examples. */
class GeneratorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SharedSpark.session
  import spark.implicits._

  private val TEST_JSON =
    """{"region": "Asia", "timezones": [{"name": "Tokyo", "offset": 540}, {"name": "Taipei", "offset": 480}, {"name": "Kamchatka", "offset": 720}]}"""

  test("single column form names it col1 (testSingleColumn1)") {
    val df = Seq(TEST_JSON).toDF("j")
      .select(graft.Graft.jq($"j", """.timezones[]|select(.name == "Tokyo").offset""", "int"))
    assert(df.columns.toSeq == Seq("col1"))
    assert(df.as[Int].collect().toSeq == Seq(540))
  }

  test("single column struct form (testSingleColumn2)") {
    val df = Seq(TEST_JSON).toDF("j")
      .select(graft.Graft.jq($"j",
        """.region as $region | .timezones[] | {name: ($region + "/" + .name), offset}""",
        "struct<name:string,offset:int>"))
    val rows = df.collect().map(_.getStruct(0)).map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("Asia/Tokyo", 540), ("Asia/Taipei", 480), ("Asia/Kamchatka", 720)))
  }

  test("multi column form (testMultiColumn)") {
    val df = Seq(TEST_JSON).toDF("j")
      .select(graft.Graft.jq($"j",
        """.region as $region | .timezones[] | {name: ($region + "/" + .name), offset}""",
        "name:string", "offset:int"))
    assert(df.columns.toSeq == Seq("name", "offset"))
    assert(df.as[(String, Int)].collect().toSeq ==
      Seq(("Asia/Tokyo", 540), ("Asia/Taipei", 480), ("Asia/Kamchatka", 720)))
  }

  test("SQL + LATERAL VIEW (README example)") {
    Seq(("Asia", """[{"name":"Tokyo","offset":540},{"name":"Taipei","offset":480},{"name":"Kamchatka","offset":720}]"""))
      .toDF("region", "timezones").createOrReplaceTempView("regions")
    val out = spark.sql(
      """SELECT r.region, tz.name, tz.offset FROM regions r
        |LATERAL VIEW jq(r.timezones, '.[]', 'name:string', 'offset:int') tz""".stripMargin)
    assert(out.as[(String, String, Int)].collect().toSeq ==
      Seq(("Asia", "Tokyo", 540), ("Asia", "Taipei", 480), ("Asia", "Kamchatka", 720)))
  }

  test("LATERAL VIEW OUTER keeps rows with no jq output") {
    Seq(("a", """{"xs":[1]}"""), ("b", """{"xs":[]}"""))
      .toDF("k", "j").createOrReplaceTempView("lvo")
    val out = spark.sql(
      """SELECT k, x.col1 FROM lvo
        |LATERAL VIEW OUTER jq(j, '.xs[]', 'int') x ORDER BY k""".stripMargin)
    assert(out.collect().toSeq == Seq(Row("a", 1), Row("b", null)))
  }

  test("all types marshal (testTypes)") {
    val df = Seq("null").toDF("j").select(graft.Graft.jq($"j",
      """{int:2147483647,bigint:9223372036854775807,float:0.1,double:0.2,boolean:true,string:"string",map:{"foo":1},array:["foo","bar"],struct:{"foo":1}}""",
      "int:int", "bigint:bigint", "float:float", "double:double", "boolean:boolean",
      "string:string", "map:map<string,int>", "array:array<string>", "struct:struct<foo:int>"))
    val r = df.collect().head
    assert(r.getInt(0) == 2147483647)
    assert(r.getLong(1) == 9223372036854775807L)
    assert(r.getFloat(2) == 0.1f)
    assert(r.getDouble(3) == 0.2)
    assert(r.getBoolean(4) == true)
    assert(r.getString(5) == "string")
    assert(r.getMap[String, Int](6) == Map("foo" -> 1))
    assert(r.getSeq[String](7) == Seq("foo", "bar"))
    assert(r.getStruct(8).getInt(0) == 1)
  }

  test("null outputs marshal to null (testNullOutputs)") {
    val df = Seq("null").toDF("j").select(graft.Graft.jq($"j",
      """{int:null,string:null,map:null,array:null,struct:{"foo":null}}""",
      "int:int", "string:string", "map:map<string,int>", "array:array<string>", "struct:struct<foo:int>"))
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    assert(r.getStruct(4).isNullAt(0))
  }

  test("non-text values as string become JSON (testMoreOnStringOutputConversions)") {
    val df = Seq("null").toDF("j").select(graft.Graft.jq($"j",
      """{foo: {a: 1}, bar: null, baz: "baz"}""",
      "foo:string", "bar:string", "baz:string"))
    val r = df.collect().head
    assert(r.getString(0) == """{"a":1}""")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "baz")
  }

  test("null input rows produce null-input jq runs (testNullInputs)") {
    val df = Seq[Option[String]](Some("null"), None).toDF("j")
      .select(graft.Graft.jq($"j", ".", "string"))
    val rows = df.collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(0)))
  }

  test("missing fields convert to null (testMissingFieldsInConversions)") {
    val df = Seq("null").toDF("j")
      .select(graft.Graft.jq($"j", "{foo: 10}", "foo:int", "bar:int"))
    val r = df.collect().head
    assert(r.getInt(0) == 10 && r.isNullAt(1))
  }

  test("corrupt JSON: substitute via $error (testSubstituteOnError)") {
    val df = Seq("\"corrupt \"string").toDF("j")
      .select(graft.Graft.jq($"j", """if $error then "INVALID" else . end""", "string"))
    assert(df.as[String].collect().toSeq == Seq("INVALID"))
  }

  test("corrupt JSON: skip via empty (testSkipOnError)") {
    val df = Seq("\"corrupt \"string").toDF("j")
      .select(graft.Graft.jq($"j", """if $error then empty else . end""", "string"))
    assert(df.count() == 0)
  }

  test("corrupt JSON: abort via error (testAbortOnError)") {
    val df = Seq("\"corrupt \"string").toDF("j")
      .select(graft.Graft.jq($"j", """if $error then error($error.message) else . end""", "string"))
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("Unrecognized token") ||
      Option(e.getCause).exists(_.getMessage.contains("Unrecognized token")))
  }

  test("corrupt rows held in an UnsafeRow bind the String lane's $error through jq() and jq_string") {
    val rows = Seq(
      // tiny_rows' garbage
      """{"k": 7}x""", """{"k": 7}}""", """{"k": 7} 1""", """{"k": 7},""", """{"k": 7}]""",
      // an unexpected character in each grammar state, a glued literal, a
      // root number, a second root value, a mismatched close marker
      """[1 2]""", """{"a" 1}""", """{k: 1}""", """{"a": 1 "b": 2}""", """[1,}""", """{"a":1]""", "[truex]",
      "7x", """{} "a"""", "[@]",
      // truncated: JsonEOFException in an object, an array, a string, a name
      """{"k": {"deep": [1, 2""", """{"k": "trunc""", """{"k": """, """{"ke""",
      // non-ASCII text and line breaks before the error
      "{\"é\": \"日本\",\n \"k\": 1 x}", "[\"😀\"]\r\n]", "{\"ü\": [1,\n2}")
    // after a shuffle each value lies inside its UnsafeRow's bytes
    rows.toDF("j").repartition(2).createOrReplaceTempView("corrupt_rows")
    val stringLane = rows.map(r => r -> graft.jq.Json.render(graft.jq.Jq.compile("$error").applyToText(r).next())).toMap
    val viaJq = spark.sql("SELECT j, e.col1 FROM corrupt_rows LATERAL VIEW jq(j, '$error', 'string') e")
      .as[(String, String)].collect().toMap
    val viaJqString = spark.sql("SELECT j, jq_string(j, '$error') FROM corrupt_rows").as[(String, String)].collect().toMap
    for (r <- rows) {
      assert(stringLane(r).contains("\"class\":\"com.fasterxml.jackson.core"), r)
      assert(viaJq(r) == stringLane(r), r)
      assert(viaJqString(r) == stringLane(r), r)
    }
  }

  test("guarded path projections under LATERAL VIEW OUTER give the node path's rows on rows held in an UnsafeRow") {
    val rows = Seq(
      """{"k": 7}""", """{"k": "12"}""", "null", "{}", """{"k": 1, "k": 2}""", // read, or left to the node path
      """{"k": 7}x""", """{"k": 7} 1""", """{"a": 1 "k": 2}""", """{"k": {"deep": [1, 2""", "{\"ü\": [1,\n2}", // worded
      """{"k": 01}""", """{"k": 1.}""") // refused unworded, so worded by Jackson
    // after a shuffle each value lies inside its UnsafeRow's bytes
    rows.zipWithIndex.toDF("j", "id").repartition(2).createOrReplaceTempView("guarded_rows")
    for ((p, t) <- Seq("if $error then empty else .k end" -> "int",
        "if $error then empty else {k: .k} end" -> "k:int",
        "if $error then {k: -1} else {k} end" -> "k:int")) {
      val got = spark.sql(s"SELECT id, x.* FROM guarded_rows LATERAL VIEW OUTER jq(j, '$p', '$t') x").collect()
        .groupBy(_.getInt(0)).map { case (id, rs) => id -> rs.map(r => if (r.isNullAt(1)) None else Some(r.getInt(1))).toList }
      for ((r, id) <- rows.zipWithIndex) {
        val outputs = graft.jq.Jq.compile(p).applyToText(r).map { n =>
          val v = if (n.isObject) n.get("k") else n
          if (v == null || v.isNull) None else Some(v.asInt)
        }.toList
        assert(got(id) == (if (outputs.isEmpty) List(None) else outputs), s"$p on $r")
      }
      assert(got(0) == List(Some(7)) && got(1) == List(Some(12)) && got(4) == List(Some(2)))
      assert(got(5) == List(if (p.contains("-1")) Some(-1) else None))
    }
  }

  test("jq runtime error fails with the reference's wording (JsonQueryUDTF.java:101)") {
    val expected = """jq returned an error "boom" from input: {"a":1}"""
    def messages(t: Throwable): List[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toList
    val df = Seq("""{"a":1}""").toDF("j")
    val prog = """error("boom")"""
    for ((name, col) <- Seq(
           "jq" -> graft.Graft.jq($"j", prog, "string"),
           "jq_string" -> graft.Graft.jqString($"j", prog),
           "jq_extract_all" -> graft.Graft.jqExtractAll($"j", prog))) {
      val e = intercept[Exception](df.select(col).collect())
      assert(messages(e).contains(expected), s"$name: ${messages(e)}")
    }
  }

  test("jq() runs a row to its end: an error after the first output fails the query under LIMIT") {
    Seq("""{"a":1}""").toDF("j").createOrReplaceTempView("late_error")
    val e = intercept[Exception] {
      spark.sql("""SELECT x.* FROM late_error LATERAL VIEW jq(j, '1, error("late")', 'int') x LIMIT 1""").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("""jq returned an error "late"""")))
    // jq_string stops after the first output, as before
    assert(Seq("""{"a":1}""").toDF("j").select(graft.Graft.jqString($"j", """1, error("late")""")).as[String]
      .collect().toSeq == Seq("1"))
  }

  test("a Java failure inside a builtin fails with the reference's wording") {
    def messages(t: Throwable): List[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toList
    for ((input, prog, payload) <- Seq(
           ("""{"s":"@@@"}""", ".s | @base64d", "\"string (\"@@@\") is not valid base64 data\""),
           ("""{"s":"{"}""", ".s | fromjson", "\""),
           ("""{"s":"("}""", ".s as $re | \"a\" | test($re)", "\"Regex failure: "))) {
      val e = intercept[Exception](Seq(input).toDF("j").select(graft.Graft.jq($"j", prog, "string")).collect())
      val ms = messages(e).filter(_ != null)
      assert(ms.exists(m => m.startsWith("jq returned an error " + payload) && m.endsWith(" from input: " + input)),
        s"$prog: $ms")
    }
  }

  test("non-constant JQ argument is rejected") {
    Seq(("{}", ".")).toDF("j", "prog").createOrReplaceTempView("nc")
    val e = intercept[Exception](spark.sql("SELECT jq(j, prog, 'string') FROM nc").collect())
    assert(e.getMessage.contains("constant"))
  }

  test("invalid jq program fails at planning with syntax context") {
    val e = intercept[Exception] {
      Seq("{}").toDF("j").select(graft.Graft.jq($"j", ".|||", "string")).collect()
    }
    assert(e.getMessage != null)
  }

  test("jq_string scalar") {
    val df = Seq("""{"a":{"b":"x"}}""", """{"a":{}}""").toDF("j")
      .select(graft.Graft.jqString($"j", ".a.b").as("v"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq == Seq(Some("x"), None))
  }

  test("jq_string renders non-text as JSON") {
    val df = Seq("""{"a":[1,2]}""").toDF("j")
      .select(graft.Graft.jqString($"j", ".a").as("v"))
    assert(df.as[String].collect().toSeq == Seq("[1,2]"))
  }

  test("jq_extract_all") {
    val df = Seq("""{"xs":[1,2,3]}""").toDF("j")
      .select(graft.Graft.jqExtractAll($"j", ".xs[] | . * 2").as("v"))
    assert(df.as[Seq[String]].collect().head == Seq("2", "4", "6"))
  }

  test("register binds the graft builtins even when a user temp function squats the name") {
    val s2 = SharedSpark.session.newSession()
    s2.udf.register("jq", (x: String) => x) // pre-existing user function named jq
    graft.Graft.register(s2)
    val df = s2.sql(
      """SELECT x.col1 FROM (SELECT '{"k":1}' AS j) t LATERAL VIEW jq(j, '.k', 'int') x""")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    graft.Graft.register(s2) // second call is a no-op
    assert(s2.sql("""SELECT jq_string('{"k":2}', '.k')""").head.getString(0) == "2")
  }

  test("SQL scalar functions registered") {
    assert(spark.sql("""SELECT jq_string('{"a":1}', '.a')""").as[String].collect().head == "1")
    assert(spark.sql("""SELECT jq_extract_all('[1,2]', '.[]')""").as[Seq[String]].collect().head == Seq("1", "2"))
  }

  test("explode-style multiplicity with downstream aggregation") {
    val df = Seq("""{"xs":[1,2]}""", """{"xs":[3]}""").toDF("j")
      .select(graft.Graft.jq($"j", ".xs[]", "int"))
      .agg(org.apache.spark.sql.functions.sum($"col1"))
    assert(df.collect().head.getLong(0) == 6L)
  }
}

object SharedSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Graft.register(s)
    s
  }
}
