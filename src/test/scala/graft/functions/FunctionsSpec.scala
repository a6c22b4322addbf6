package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class ExactAggSpec extends SparkSpec {
  import spark.implicits._

  test("sumFx/avgFx are exact on cents") {
    val df = Seq(0.1, 0.2, 0.3).toDF("x")
    val Row(s: Double, a: Double) =
      df.agg(ExactAgg.sumFx($"x"), ExactAgg.avgFx($"x")).head()
    assert(s == 0.6 && a == 0.2) // plain double sum would give 0.6000000000000001
  }

  test("stddevFx: n==1 -> 0.0 (reference rule), n>1 sample stddev") {
    val one = Seq(5.0).toDF("x").agg(ExactAgg.stddevFx($"x")).head().getDouble(0)
    assert(one == 0.0)
    val s = Seq(2.0, 4.0).toDF("x").agg(ExactAgg.stddevFx($"x")).head().getDouble(0)
    assert(math.abs(s - math.sqrt(2.0)) < 1e-12)
  }

  test("revenueFx multiplies in integers") {
    val df = Seq((100.0, 0.05), (200.0, 0.10)).toDF("p", "d")
    val r = df.agg(ExactAgg.revenueFx($"p", $"d")).head().getDouble(0)
    assert(r == 95.0 + 180.0)
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("normalize/tokens/tokenCount") {
    val df = Seq("  Hello, World!  It's 42. ").toDF("t")
    val Row(norm: String, n: Long) = df.select(
      TextFunctions.normalizeText($"t"),
      TextFunctions.tokenCount($"t")).head()
    assert(norm == "hello world it s 42")
    assert(n == 5)
    assert(Seq("").toDF("t").select(TextFunctions.tokenCount($"t"))
      .head().getLong(0) == 0)
  }

  test("fingerprint is normalization-invariant") {
    val df = Seq(("Hello  World", "hello world!")).toDF("a", "b")
    val Row(fa: String, fb: String) = df.select(
      TextFunctions.fingerprint($"a"), TextFunctions.fingerprint($"b")).head()
    assert(fa == fb)
  }

  test("shingles: word 2-grams") {
    val out = Seq("a b c d").toDF("t")
      .select(TextFunctions.shingles($"t", 2).as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("a b", "b c", "c d"))
  }

  test("langId picks the marker-dominant language") {
    val df = Seq(
      "the cat and the dog went to the park",
      "el gato es que la casa con los perros",
      "der hund ist mit der katze und nicht",
      "xyzzy qwerty asdf").toDF("t")
    val out = df.select(TextFunctions.langId($"t")).as[String].collect().toSeq
    assert(out == Seq("en", "es", "de", "und"))
  }

  test("stripHtml") {
    val out = Seq("<p>Hello <b>big</b> world</p>").toDF("t")
      .select(TextFunctions.stripHtml($"t")).as[String].head()
    assert(out == "Hello big world")
  }

  test("safeCast falls back to default") {
    val df = Seq(("12", "x")).toDF("a", "b")
    val Row(a: Int, b: Int) = df.select(
      TextFunctions.safeCast($"a", "int", lit(0)),
      TextFunctions.safeCast($"b", "int", lit(0))).head()
    assert(a == 12 && b == 0)
  }
}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot/norm/cosine on known vectors") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 0.0f)))
      .toDF("a", "b")
    val Row(d: Double, na: Double, cos: Double) = df.select(
      VectorFunctions.dot($"a", $"b"),
      VectorFunctions.norm2($"a"),
      VectorFunctions.cosine($"a", $"b")).head()
    assert(d == 2.0 && na == 3.0)
    assert(math.abs(cos - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("cosine of zero vector is null") {
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine($"a", $"b")).head().isNullAt(0))
  }

  test("l2Sq and normalize") {
    val df = Seq((Seq(3.0f, 4.0f), Seq(0.0f, 0.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.l2Sq($"a", $"b")).head().getDouble(0) == 25.0)
    val n = df.select(VectorFunctions.normalize($"a")).as[Seq[Double]].head()
    assert(math.abs(n(0) - 0.6) < 1e-12 && math.abs(n(1) - 0.8) < 1e-12)
  }
}

/** F13/F14 zoning-bylaw parsing against the reference's own cases
  * (get_edm_zoning_bylaw_data.py:80-116, 254-264).
  */
class ZoningFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def storeys(s: String): Option[String] = {
    val r = Seq(s).toDF("t")
      .select(ZoningFunctions.storeysSummary($"t")).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  test("storeys cascade: all five cases in reference order, null fallback") {
    assert(storeys("heights up to 6 or 8 storeys permitted") ==
      Some("Up to 6 or 8"))
    assert(storeys("buildings Up To 4 Storeys") == Some("Up to 4"))
    assert(storeys("approximately 9 to 20 Storeys") == Some("9 to 20"))
    assert(storeys("either 2 or 3 storeys") == Some("2 or 3"))
    assert(storeys("a maximum of 12 storeys") == Some("12"))
    assert(storeys("no height maximum applies") == None)
    // case 1 shadows cases 2/4/5 on the same text, as in the reference
    assert(storeys("up to 6 or 8 storeys, i.e. 6 storeys typical") ==
      Some("Up to 6 or 8"))
  }

  test("zone title split and unparsable fallback") {
    val parts = Seq("3.16 A6 - River Crossing Zone", "Direct Control Provision")
      .toDF("t").select(ZoningFunctions.zoneTitleParts($"t").as("p"))
      .select($"p.section", $"p.zone_code", $"p.zone_name")
      .collect()
    assert(parts(0).getString(0) == "3.16")
    assert(parts(0).getString(1) == "A6")
    assert(parts(0).getString(2) == "River Crossing Zone")
    assert(parts(1).isNullAt(0))
    assert(parts(1).getString(1) == "Direct Control Provision")
    assert(parts(1).getString(2) == "Direct Control Provision")
  }
}

/** F17 link rewrite + F3 injectable clock. */
class LinkRewriteAndClockSpec extends SparkSpec {
  import spark.implicits._

  test("rewriteSourceLinks renders t=Ns seconds as [[H:MM:SS]], leaves rest") {
    val in = Seq(
      "See [[83]](https://youtu.be/x?v=1&t=83s) and " +
        "[[3601]](https://youtu.be/x?t=3601s) here",
      "Day-long: [[90061]](https://youtu.be/y?t=90061s)",
      "No links here; [[12]](not a url) stays",
      null
    ).toDF("text")
    val out = in.select(
      TextFunctions.rewriteSourceLinks($"text").as("t")).collect()
    assert(out(0).getString(0) ==
      "See [[0:01:23]](https://youtu.be/x?v=1&t=83s) and " +
        "[[1:00:01]](https://youtu.be/x?t=3601s) here")
    assert(out(1).getString(0) == // hours fold past 24, as in the reference
      "Day-long: [[25:01:01]](https://youtu.be/y?t=90061s)")
    assert(out(2).getString(0) == "No links here; [[12]](not a url) stays")
    assert(out(3).isNullAt(0))
  }

  test("subwordCount: alnum runs + each non-space punctuation char") {
    val df = Seq(
      ("hello world", 2L),         // plain words
      ("don't stop-now!", 7L),     // don|'|t|stop|-|now|!
      ("a,b,,c", 6L),              // a|,|b|,|,|c
      ("", 0L), ("   ", 0L),       // space-only trims away
      ("x9y", 1L))                 // alnum run stays one token
      .toDF("text", "expected")
    val bad = df.filter(
      TextFunctions.subwordCount($"text") =!= $"expected").count()
    assert(bad == 0)
  }

  test("Clock: fixed date derives reproducible cutoffs") {
    val c = Clock.fixed("2026-08-12")
    assert(c.monthsAgo(4) == "2026-04-12")
    assert(c.todayStr == "2026-08-12")
    // leap/end-of-month clamping behaves like LocalDate
    assert(Clock.fixed("2026-03-31").monthsAgo(1) == "2026-02-28")
  }

  test("Clock.system is pinned to UTC, not the host default TZ") {
    // sandwich against two UTC reads so a midnight rollover mid-test
    // can't flake; a host-TZ clock would disagree with BOTH for up to
    // a day on a non-UTC machine
    val before = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    val sys = Clock.system.today
    val after = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    assert(sys == before || sys == after)
  }

  test("canonicalUrl: case, ports, fragments, tracking params, sorting") {
    import spark.implicits._
    def canon(u: String): Option[String] =
      Seq(u).toDF("u")
        .select(TextFunctions.canonicalUrl($"u").as("c"))
        .as[Option[String]].head()
    // case folding + default-port strip + empty path
    assert(canon("HTTPS://Example.COM:443") == Some("https://example.com/"))
    assert(canon("http://a.b:80/x") == Some("http://a.b/x"))
    // non-default port kept; https keeps :80
    assert(canon("http://a.b:8080/x") == Some("http://a.b:8080/x"))
    assert(canon("https://a.b:80/") == Some("https://a.b:80/"))
    // fragment dropped; tracking params dropped; params sorted
    assert(canon("http://a.b/p?z=1&utm_source=s&a=2&fbclid=f&gclid=g#frag")
      == Some("http://a.b/p?a=2&z=1"))
    // all params dropped -> no '?'
    assert(canon("http://a.b/p?utm_campaign=x") == Some("http://a.b/p"))
    // identical pages under trivially-different URLs collide
    assert(canon("HTTP://A.B:80/p?b=2&a=1&utm_s=1") ==
      canon("http://a.b/p?a=1&b=2"))
    // unparseable -> NULL, not a half-normalized string
    assert(canon("not a url").isEmpty)
    assert(canon("/relative/only").isEmpty)
    // hash-routed SPA: NOTHING after # may leak into the query
    assert(canon("http://a.b/app#/home?tab=1") == Some("http://a.b/app"))
    assert(canon("http://a.b/app#/home?tab=1") ==
      canon("http://a.b/app#/other?tab=2"))
    // userinfo dropped; distinct hosts stay distinct
    assert(canon("http://user:pw@h1.com/x") == Some("http://h1.com/x"))
    assert(canon("http://user:pw@h1.com/x") !=
      canon("http://user:pw@h2.com/x"))
    assert(canon("http://user@h.com/x") == canon("http://h.com/x"))
    // bracketed IPv6 literal round-trips with port handling
    assert(canon("HTTP://[2001:DB8::1]:80/x") == Some("http://[2001:db8::1]/x"))
    assert(canon("http://[2001:db8::1]:8080/x") ==
      Some("http://[2001:db8::1]:8080/x"))
    // malformed host:port -> NULL, never a half-normalized key
    assert(canon("http://h.com:notaport/x").isEmpty)
    // tracking filter is case-insensitive and value-optional
    assert(canon("http://a.b/p?UTM_Source=x&fbclid") == Some("http://a.b/p"))
  }

  test("canonicalUrl native kernel == composed-builtin reference (differential)") {
    import spark.implicits._
    val edge = Seq(
      "HTTPS://Example.COM:443", "http://a.b:80/x", "http://a.b:8080/x",
      "https://a.b:80/", "http://a.b/p?z=1&utm_source=s&a=2&fbclid=f#frag",
      "http://a.b/p?utm_campaign=x", "not a url", "/relative/only",
      "http://a.b/app#/home?tab=1", "http://user:pw@h1.com/x",
      "http://user@h.com/x", "HTTP://[2001:DB8::1]:80/x",
      "http://[2001:db8::1]:8080/x", "http://h.com:notaport/x",
      "http://a.b/p?UTM_Source=x&fbclid", "http://a@b@c/x", "://x",
      "ftp+ssh://H.COM/Y?b&a&", "http://h.com", "http://h.com?",
      "http://h.com?&&", "http://[]/x", "http://h.com:/x",
      "http://h.com#", "x://y", "1http://h.com/",
      // non-ASCII: scheme/port must reject like the ASCII-only regex
      // classes; non-ASCII hosts must lowercase identically to
      // Spark's lower() kernel
      "h\u00e9://x/p", "http://h.com:\u0663/x",
      "http://\u00dcber.example/x", "http://I\u00e4.example/x",
      "http://\u4f8b\u3048.jp/\u30d1\u30b9?\u30ad\u30fc=\u5024")
    val rnd = new scala.util.Random(82L)
    val fuzz = (0 until 300).map { _ =>
      val chars = "aB:/?#@&=.[]%_-0129 "
      (0 until rnd.nextInt(40)).map(_ => chars(rnd.nextInt(chars.length)))
        .mkString
    }
    val synth = (0L until 200L).map { id =>
      val sch = if (id % 2 == 0) "HTTPS" else "http"
      val host = Seq("EXAMPLE.com", "sub.Example.org", "Example.com")(
        (id % 3).toInt)
      val port = (id % 4) match {
        case 0 => if (id % 2 == 0) ":443" else ":80"
        case 1 => ":8080"
        case _ => ""
      }
      val path = if (id % 5 == 0) "" else s"/a/b${id % 7}"
      s"$sch://$host$port$path?b=${id % 3}&utm_source=x&a=${id % 5}" +
        s"&fbclid=zz#frag${id % 2}"
    }
    val out = (edge ++ fuzz ++ synth).toDF("u")
      .select(TextFunctions.canonicalUrl($"u").as("native"),
        TextFunctions.canonicalUrlColumns($"u").as("reference"))
      .as[(Option[String], Option[String])].collect()
    out.zip(edge ++ fuzz ++ synth).foreach { case ((n, r), u) =>
      assert(n == r, s"native $n != reference $r for '$u'")
    }
  }
}
