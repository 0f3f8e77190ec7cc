package graft

import graft.ingest.Quarantine

class QuarantineSpec extends SparkTestBase {
  import spark.implicits._

  private val ddl = "event_id LONG, user_id LONG, value DOUBLE"

  private def stage(lines: Seq[String]): String = {
    val base = tmp("quar")
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(s"$base/in")
    s"$base/in"
  }

  test("clean rows type fully; broken lines land in quarantine with the raw text") {
    val in = stage(Seq(
      """{"event_id": 1, "user_id": 10, "value": 1.25}""",
      """GARBAGE {not json""",
      """{"event_id": 2, "user_id": 11, "value": 2.5}""",
      """{"event_id": 3, "user_id": 12, "value": "not-a-number"}"""))
    val (clean, quarantine) = Quarantine.readJsonLines(spark, in, ddl)
    assert(rows(clean) == Seq(Seq(1L, 10L, 1.25), Seq(2L, 11L, 2.5)))
    val q = quarantine.collect().map(_.getString(0)).sorted
    assert(q.length == 2)
    assert(q.exists(_.startsWith("GARBAGE")))
    assert(q.exists(_.contains("not-a-number")))
  }

  test("audit accounts for every input line and sums clean cents exactly") {
    val in = stage(Seq(
      """{"event_id": 1, "user_id": 10, "value": 1.01}""",
      """broken""",
      """{"event_id": 2, "user_id": 11, "value": 2.02}"""))
    val r = Quarantine.auditJsonLines(spark, in, ddl, "value").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)) ==
      ((2L, 1L, 303L, true)))
  }

  test("a field-missing but parseable line is clean-with-nulls, not quarantined") {
    val in = stage(Seq("""{"event_id": 7}"""))
    val (clean, quarantine) = Quarantine.readJsonLines(spark, in, ddl)
    assert(clean.count() == 1 && quarantine.count() == 0)
    val r = clean.collect().head
    assert(r.getLong(0) == 7L && r.isNullAt(1) && r.isNullAt(2))
  }
}
