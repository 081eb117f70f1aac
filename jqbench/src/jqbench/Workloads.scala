package jqbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated workload: the input rows, the `jq(...)` call run over them,
  * and the totals its outputs must add up to.
  *
  * Everything is derived from the seed and nothing else, so the same seed
  * gives byte-identical rows in every JVM. The expected totals come from the
  * generator's own bookkeeping, never from running a jq engine.
  *
  * @param checks   (name, Spark SQL aggregate over the jq output columns)
  * @param expected name → the value the aggregate of the same name must return
  */
final case class Workload(
    name: String,
    rows: Array[String],
    program: String,
    types: Seq[String],
    checks: Seq[(String, String)],
    expected: Map[String, Long],
    corruptRows: Long,
    outputs: Long,
    refGetJsonPath: String,
    refFromJsonSchema: String) {

  lazy val inputBytes: Long = rows.iterator.map(_.getBytes(UTF_8).length.toLong).sum
  def bytesPerRow: Double = inputBytes.toDouble / rows.length
  def corruptShare: Double = corruptRows.toDouble / rows.length
  def outputsPerRow: Double = outputs.toDouble / rows.length

  /** The SQL that every timed execution runs; the program string is passed
    * as a SQL literal, so the builder compiles and validates it at analysis. */
  def sql(view: String): String =
    s"SELECT x.* FROM $view LATERAL VIEW jq(json, ${Workloads.sqlString(program)}, " +
      types.map(Workloads.sqlString).mkString(", ") + ") x"
}

/** Shape bounds a generated workload must fall in; a generator change that
  * drifts out of them would silently change what the benchmark measures. */
final case class Shape(bytesPerRow: (Double, Double), corruptShare: (Double, Double),
                       outputsPerRow: (Double, Double))

object Workloads {
  val names: Seq[String] = Seq("tiny_rows", "wide_docs", "nested_explode")

  /** Rows per workload, sized so one warm execution on 4 cores takes
    * about half a second. */
  val defaultRows: Map[String, Int] =
    Map("tiny_rows" -> 500000, "wide_docs" -> 40000, "nested_explode" -> 40000)

  val shapes: Map[String, Shape] = Map(
    "tiny_rows" -> Shape((8.0, 12.0), (0.09, 0.11), (0.89, 0.91)),
    "wide_docs" -> Shape((1100.0, 1300.0), (0.0, 0.0), (1.0, 1.0)),
    "nested_explode" -> Shape((290.0, 370.0), (0.0, 0.0), (2.6, 3.0)))

  def generate(name: String, seed: Long, rows: Int): Workload = {
    // the workload name is mixed in so two workloads never share a stream
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ name.hashCode.toLong)
    name match {
      case "tiny_rows" => tinyRows(rng, rows)
      case "wide_docs" => wideDocs(rng, rows)
      case "nested_explode" => nestedExplode(rng, rows)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** Problems with the workload's shape; empty when it is in bounds. */
  def shapeProblems(w: Workload): Seq[String] = {
    val s = shapes(w.name)
    def in(what: String, v: Double, b: (Double, Double)) =
      if (v >= b._1 && v <= b._2) None else Some(f"$what $v%.4f outside [${b._1}, ${b._2}]")
    Seq(in("bytes/row", w.bytesPerRow, s.bytesPerRow),
      in("corrupt share", w.corruptShare, s.corruptShare),
      in("outputs/row", w.outputsPerRow, s.outputsPerRow)).flatten
  }

  def sqlString(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private val garbage = Array("x", "}", " 1", ",", "]")

  /** `{"k": n}` events; one row in ten carries trailing garbage, so the
    * parse fails, `$error` is bound and the program emits nothing. */
  private def tinyRows(rng: SplittableRandom, n: Int): Workload = {
    var sumK = 0L
    var corrupt = 0L
    val rows = Array.tabulate(n) { _ =>
      val k = rng.nextInt(1000)
      val row = "{\"k\": " + k + "}"
      if (rng.nextInt(10) == 0) { corrupt += 1; row + garbage(rng.nextInt(garbage.length)) }
      else { sumK += k; row }
    }
    val good = n - corrupt
    Workload("tiny_rows", rows, "if $error then empty else .k end", Seq("int"),
      Seq("n" -> "count(1)", "sum_k" -> "sum(col1)", "nulls" -> "count_if(col1 IS NULL)"),
      Map("n" -> good, "sum_k" -> sumK, "nulls" -> 0L),
      corrupt, good, "$.k", "k INT")
  }

  private val words = Array(
    "data", "spark", "query", "stream", "json", "event", "table", "index", "shard", "cluster",
    "value", "field", "record", "batch", "window", "token", "filter", "merge", "join", "scan",
    "parse", "lexer", "tree", "node", "array", "object", "string", "number", "schema", "column",
    "partition", "task", "stage", "job", "executor", "driver", "memory", "disk", "network", "cache",
    "café", "über", "naïve", "façade", "jalapeño", "smörgåsbord", "crème", "brûlée",
    "alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "lambda", "theta", "zeta",
    "north", "south", "east", "west")

  private def sentence(rng: SplittableRandom, sb: java.lang.StringBuilder, chars: Int): Unit = {
    val end = sb.length + chars
    var first = true
    while (sb.length < end) {
      if (!first) sb.append(if (rng.nextInt(40) == 0) "\\n" else " ")
      sb.append(words(rng.nextInt(words.length)))
      first = false
    }
  }

  private val langs = Array("en", "de", "fr", "ja", "es", "pt", "zh", "ru")

  /** ~1.2 KB documents with 15 top-level fields, four of them nested. The
    * program reads two, so the footprint-pruned parse skips the rest. */
  private def wideDocs(rng: SplittableRandom, n: Int): Workload = {
    var sumHalf = 0L
    var enen = 0L
    var lang2Chars = 0L
    val rows = Array.tabulate(n) { i =>
      val lang = langs(rng.nextInt(langs.length))
      val num = rng.nextInt(100000)
      sumHalf += num / 2
      if (lang == "en") enen += 1
      lang2Chars += 2 * lang.length
      val sb = new java.lang.StringBuilder(1400)
      sb.append("{\"id\":").append(1000000L + i)
      sb.append(",\"title\":\""); sentence(rng, sb, 30 + rng.nextInt(30)); sb.append('"')
      sb.append(",\"source\":\"https://www.site-").append(rng.nextInt(5000)).append(".example.com/")
        .append(words(rng.nextInt(words.length))).append('/').append(rng.nextInt(1000000)).append('"')
      sb.append(",\"author\":{\"name\":\"").append(words(rng.nextInt(words.length))).append(' ')
        .append(words(rng.nextInt(words.length))).append("\",\"id\":").append(rng.nextInt(1000000))
        .append(",\"verified\":").append(rng.nextBoolean()).append('}')
      sb.append(",\"geo\":{\"lat\":").append(rng.nextInt(180000) / 1000.0 - 90)
        .append(",\"lon\":").append(rng.nextInt(360000) / 1000.0 - 180)
        .append(",\"country\":\"").append(langs(rng.nextInt(langs.length)).toUpperCase).append("\"}")
      sb.append(",\"ts\":").append(1700000000000L + rng.nextInt(1000000000))
      sb.append(",\"score\":").append(rng.nextInt(10000) / 10000.0)
      sb.append(",\"tags\":[")
      val nt = 2 + rng.nextInt(5)
      var t = 0
      while (t < nt) {
        if (t > 0) sb.append(',')
        sb.append('"').append(words(rng.nextInt(words.length))).append('"')
        t += 1
      }
      sb.append(']')
      sb.append(",\"lang\":\"").append(lang).append('"')
      sb.append(",\"text\":\""); sentence(rng, sb, 620 + rng.nextInt(240)); sb.append('"')
      sb.append(",\"n\":").append(num)
      sb.append(",\"stats\":{\"views\":").append(rng.nextInt(100000)).append(",\"likes\":")
        .append(rng.nextInt(1000)).append(",\"shares\":").append(rng.nextInt(100)).append('}')
      sb.append(",\"flags\":{\"nsfw\":").append(rng.nextInt(50) == 0).append(",\"spam\":")
        .append(rng.nextInt(20) == 0).append('}')
      sb.append(",\"links\":[\"https://ref-").append(rng.nextInt(1000)).append(".example.org/a\",\"https://ref-")
        .append(rng.nextInt(1000)).append(".example.org/b\"]")
      sb.append(",\"rank\":").append(rng.nextInt(1000))
      sb.append('}')
      sb.toString
    }
    Workload("wide_docs", rows, "{lang2: (.lang + .lang), half: (.n / 2 | floor)}",
      Seq("lang2:string", "half:bigint"),
      Seq("n" -> "count(1)", "sum_half" -> "sum(half)", "enen" -> "count_if(lang2 = 'enen')",
        "lang2_chars" -> "sum(length(lang2))"),
      Map("n" -> n.toLong, "sum_half" -> sumHalf, "enen" -> enen, "lang2_chars" -> lang2Chars),
      0L, n.toLong, "$.lang", "lang STRING, n BIGINT")
  }

  /** The program reads most of the record (its footprint is `None`) and
    * emits one row per item with a positive quantity. */
  val nestedProgram: String =
    "(keys|length) as $nk | .id as $id | " +
      "(.attrs|to_entries|map(\"\\(.key)=\\(.value)\")|join(\",\")) as $a | " +
      ".items[] | select(.qty > 0) | {order: $id, nk: $nk, sku, line: (.qty*.price), " +
      "tags: (.tags|map(ascii_upcase)), meta: {attrs: $a, n: (.tags|length)}}"

  val nestedTypes: Seq[String] = Seq("order:bigint", "nk:int", "sku:string", "line:double",
    "tags:array<string>", "meta:struct<attrs:string,n:int>")

  private val attrKeys = Array("region", "channel", "promo", "device", "campaign")
  private val attrValues = Array("eu", "us", "apac", "web", "app", "store", "spring", "none", "ios", "android")
  private val tiers = Array("gold", "silver", "bronze")
  private val colors = Array("red", "blue", "green", "black", "white", "xl", "m", "s", "sale", "new")

  private def nestedExplode(rng: SplittableRandom, n: Int): Workload = {
    var outs, sumOrder, sumNk, sumCents, sumTags, sumSku, sumAttrs = 0L
    val rows = Array.tabulate(n) { i =>
      val id = 5000000L + i
      val note = rng.nextInt(10) < 3
      val coupon = rng.nextInt(10) < 2
      val nk = 4 + (if (note) 1 else 0) + (if (coupon) 1 else 0)
      val sb = new java.lang.StringBuilder(400)
      sb.append("{\"id\":").append(id)
      sb.append(",\"cust\":{\"id\":").append(rng.nextInt(100000))
        .append(",\"tier\":\"").append(tiers(rng.nextInt(tiers.length))).append("\"}")
      // attribute keys in generated, not sorted, order: to_entries keeps it
      val na = 2 + rng.nextInt(3)
      val start = rng.nextInt(attrKeys.length)
      var attrChars = na - 1L
      sb.append(",\"attrs\":{")
      var a = 0
      while (a < na) {
        val k = attrKeys((start + a) % attrKeys.length)
        val v = attrValues(rng.nextInt(attrValues.length))
        if (a > 0) sb.append(',')
        sb.append('"').append(k).append("\":\"").append(v).append('"')
        attrChars += k.length + 1 + v.length
        a += 1
      }
      sb.append('}')
      sb.append(",\"items\":[")
      val ni = 1 + rng.nextInt(6)
      var it = 0
      while (it < ni) {
        val sku = "SKU-" + (10000 + rng.nextInt(90000))
        val qty = rng.nextInt(5)
        val cents = 99 + rng.nextInt(9901)
        val nt = rng.nextInt(4)
        if (it > 0) sb.append(',')
        sb.append("{\"sku\":\"").append(sku).append("\",\"qty\":").append(qty)
          .append(",\"price\":").append(cents / 100).append('.')
        if (cents % 100 < 10) sb.append('0')
        sb.append(cents % 100).append(",\"tags\":[")
        var t = 0
        while (t < nt) {
          if (t > 0) sb.append(',')
          sb.append('"').append(colors(rng.nextInt(colors.length))).append('"')
          t += 1
        }
        sb.append("]}")
        if (qty > 0) {
          outs += 1; sumOrder += id; sumNk += nk; sumCents += qty.toLong * cents
          sumTags += nt; sumSku += sku.length; sumAttrs += attrChars
        }
        it += 1
      }
      sb.append(']')
      if (note) sb.append(",\"note\":\"").append(words(rng.nextInt(words.length))).append('"')
      if (coupon) sb.append(",\"coupon\":\"C").append(rng.nextInt(1000)).append('"')
      sb.append('}')
      sb.toString
    }
    Workload("nested_explode", rows, nestedProgram, nestedTypes,
      Seq("n" -> "count(1)", "sum_order" -> "sum(order)", "sum_nk" -> "sum(nk)",
        "sum_cents" -> "sum(CAST(round(line * 100) AS BIGINT))", "sum_tags" -> "sum(meta.n)",
        "sum_tag_array" -> "sum(size(tags))", "sum_sku" -> "sum(length(sku))",
        "sum_attrs" -> "sum(length(meta.attrs))"),
      Map("n" -> outs, "sum_order" -> sumOrder, "sum_nk" -> sumNk, "sum_cents" -> sumCents,
        "sum_tags" -> sumTags, "sum_tag_array" -> sumTags, "sum_sku" -> sumSku, "sum_attrs" -> sumAttrs),
      0L, outs, "$.id",
      "id BIGINT, attrs MAP<STRING, STRING>, " +
        "items ARRAY<STRUCT<sku: STRING, qty: INT, price: DOUBLE, tags: ARRAY<STRING>>>")
  }
}
