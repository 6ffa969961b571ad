package graft

import graft.ops.TextOps

class RedactSpec extends SparkSpec {
  import spark.implicits._

  test("redact replaces every PII category with its typed placeholder") {
    val docs = Seq(
      (1L, "contact me at jane.doe+spam@example.co.uk for details"),
      (2L, "see https://example.com/a?b=c#frag and http://x.io next"),
      (3L, "server at 192.168.001.1 answered"),
      (4L, "card 1234567890123456 leaked"),
      (5L, "clean text with no pii at all"),
      (6L, "mix: a@b.io https://c.de 10.0.0.1 123456789")
    ).toDF("doc_id", "text")
    val out = TextOps.redactOn(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))
      .toMap
    assert(out(1L)._2 === 1 && out(1L)._5.contains("<EMAIL>"))
    assert(out(2L)._1 === 2 &&
      out(2L)._5 === "see <URL> and <URL> next")
    assert(out(3L)._3 === 1 && out(3L)._5.contains("<IP>"))
    assert(out(4L)._4 === 1 && out(4L)._5 === "card <NUM> leaked")
    assert(out(5L) === ((0, 0, 0, 0, "clean text with no pii at all")))
    // one of each in doc 6; every category redacts
    val (u6, e6, i6, d6, t6) = out(6L)
    assert(u6 === 1 && e6 === 1 && i6 === 1 && d6 === 1)
    assert(t6 === "mix: <EMAIL> <URL> <IP> <NUM>")
  }

  test("redaction is a verified pass-through on the PII-free corpus") {
    val out = TextOps.redactOn(Tables.documents(spark, sf))
    assert(out.filter(
      org.apache.spark.sql.functions.col("n_urls") +
        org.apache.spark.sql.functions.col("n_emails") +
        org.apache.spark.sql.functions.col("n_ips") +
        org.apache.spark.sql.functions.col("n_digits") =!= 0).isEmpty)
  }
}
