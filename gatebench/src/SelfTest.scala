package gatebench

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own tests: value canonicalization across the wires'
  * renderings, the percentile helper, the digest, span self times, and
  * an injected wrong row counting as a failure. Prints one line per
  * check; exits non-zero when any check fails.
  */
object SelfTest {
  private var passed = 0
  private val failures = ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  ($e)"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (ok) passed += 1 else failures += name
  }

  private def same(k: Kind, vs: Any*): Boolean = vs.map(Canon.value(k, _)).distinct.size == 1

  def main(args: Array[String]): Unit = {
    // one timestamp as Thrift/Trino, JDBC, REST JSON, Arrow and Spark render it
    check("timestamp renderings agree")(same(Kind.Timestamp,
      "1995-03-15 01:02:03.0", java.sql.Timestamp.valueOf("1995-03-15 01:02:03"),
      "1995-03-15T01:02:03.000Z", "1995-03-15T01:02:03.000+00:00",
      java.lang.Long.valueOf(795229323000000L), java.time.LocalDateTime.of(1995, 3, 15, 1, 2, 3)))
    check("timestamp micros survive")(same(Kind.Timestamp,
      "1995-03-15 01:02:03.123456", java.lang.Long.valueOf(795229323123456L)))
    check("distinct timestamps differ")(!same(Kind.Timestamp, "1995-03-15 01:02:03.0", "1995-03-15 01:02:04.0"))
    check("double renderings agree")(same(Kind.Fractional,
      0.30000000000000004, "0.30000000000000004", new java.math.BigDecimal("0.30000000000000004")))
    check("exponent doubles agree")(same(Kind.Fractional, 1.0e7, "1.0E7", new java.math.BigDecimal("10000000")))
    check("distinct doubles differ")(!same(Kind.Fractional, 1.5, 1.25))
    check("decimal renderings agree")(same(Kind.Exact,
      "123.4500", new java.math.BigDecimal("123.45"), scala.math.BigDecimal("123.450"), "1.2345E+2"))
    check("decimal zero agrees")(same(Kind.Exact, "0E-10", "0.00", java.math.BigDecimal.ZERO))
    check("integral renderings agree")(same(Kind.Integral,
      java.lang.Long.valueOf(42), java.lang.Integer.valueOf(42), java.math.BigInteger.valueOf(42), "42"))
    check("date renderings agree")(same(Kind.Date,
      "1995-03-15", java.sql.Date.valueOf("1995-03-15"), java.lang.Integer.valueOf(9204)))
    check("null renderings agree")(same(Kind.Text, null, None) && same(Kind.Integral, null, None))
    check("null differs from empty text")(!same(Kind.Text, null, ""))
    check("hive type names map to kinds")(
      Kind.ofHiveType("BIGINT_TYPE") == Kind.Integral && Kind.ofHiveType("bigint") == Kind.Integral &&
        Kind.ofHiveType("decimal(12,2)") == Kind.Exact && Kind.ofHiveType("TIMESTAMP_TYPE") == Kind.Timestamp &&
        Kind.ofHiveType("varchar") == Kind.Text && Kind.ofHiveType("double") == Kind.Fractional)

    check("percentile interpolates")(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    check("percentile ends")(Stats.percentile(Seq(5.0, 1, 3, 2, 4), 0) == 1.0 &&
      Stats.percentile(Seq(5.0, 1, 3, 2, 4), 100) == 5.0)
    check("median of odd count")(Stats.median(Seq(5.0, 1, 3, 2, 4)) == 3.0)
    check("p25")(Stats.percentile((1 to 5).map(_.toDouble), 25) == 2.0)
    check("empty percentile is NaN")(Stats.percentile(Nil, 50).isNaN)
    check("tail percentile keeps ten samples beyond")(
      Stats.tailPercentile(1000).contains(99) && Stats.tailPercentile(200).contains(95) &&
        Stats.tailPercentile(100).contains(90) && Stats.tailPercentile(99).isEmpty)

    val kinds = IndexedSeq(Kind.Integral, Kind.Text)
    val rows = Seq(IndexedSeq[Any](1L, "a"), IndexedSeq[Any](2L, null), IndexedSeq[Any](3L, "c"))
    val ref = Digest.of(kinds, rows.iterator)
    check("digest ignores row order")(Digest.of(kinds, rows.reverse.iterator) == ref)
    check("digest counts duplicates")(Digest.of(kinds, (rows :+ rows.head).iterator) != ref)
    check("digest sees a changed cell")(
      Digest.of(kinds, (rows.updated(1, IndexedSeq[Any](2L, "b"))).iterator) != ref)

    def fetched(rs: Seq[IndexedSeq[Any]]) =
      Fetched(kinds, ArrayBuffer.from(rs.map(_.toArray)), 0L, 0L, "h")
    check("a right result passes")({
      val t = new Tally
      t.verify("right", ref, fetched(rows)) && t.failed.get == 0
    })
    check("a wrong row counts as failed")({
      val t = new Tally
      !t.verify("wrong", ref, fetched(rows.updated(2, IndexedSeq[Any](3L, "x")))) && t.failed.get == 1
    })
    check("an injected wrong row counts as failed")({
      val t = new Tally
      t.injectWrongRow = true
      !t.verify("injected", ref, fetched(rows)) && t.failed.get == 1 &&
        t.verify("after", ref, fetched(rows)) && t.failed.get == 1
    })
    check("a missing row counts as failed")({
      val t = new Tally
      !t.verify("short", ref, fetched(rows.take(2))) && t.failed.get == 1
    })

    check("self time excludes child spans")({
      val tr = new Tracer(true)
      tr.span("outer", "s1") {
        Thread.sleep(30)
        tr.span("inner")(Thread.sleep(40))
      }
      val self = tr.selfTimesMs
      val inner = tr.all.find(_.name == "inner").get
      self("outer") >= 25 && self("outer") < 39 && math.abs(self("inner") - inner.ms) < 1e-9 &&
        inner.stmt == "s1"
    })
    check("a disabled tracer records nothing")({
      val tr = new Tracer(false)
      tr.span("x")(1) == 1 && tr.all.isEmpty
    })

    println(s"selftest: $passed passed, ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
