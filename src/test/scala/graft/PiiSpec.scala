package graft

import graft.text.Pii
import org.apache.spark.sql.functions._

class PiiSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1L, "reach me at jane.doe+spam@mail.example.org or 504-555-1234"),
    (2L, "server at 10.0.255.1 and 192.168.1.17, no contact info"),
    (3L, "nothing sensitive here at all"),
    (4L, "two mails a@b.io c@d.net one phone 111-222-3333 one ip 8.8.8.8"),
  ).toDF("id", "text")

  test("counts per PII class") {
    val got = rows.select(col("id"),
        Pii.emailCount(col("text")).as("e"),
        Pii.phoneCount(col("text")).as("p"),
        Pii.ipCount(col("text")).as("i"))
      .orderBy("id")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((1, 1, 0), (0, 0, 2), (0, 0, 0), (2, 1, 1)))
  }

  test("redact masks all classes and leaves clean text untouched") {
    val red = rows.select(col("id"), Pii.redact(col("text")).as("r"))
      .orderBy("id").as[(Long, String)].collect().toMap
    assert(red(1L) == "reach me at <EMAIL> or <PHONE>")
    assert(red(2L) == "server at <IP> and <IP>, no contact info")
    assert(red(3L) == "nothing sensitive here at all")
    assert(red(4L) == "two mails <EMAIL> <EMAIL> one phone <PHONE> one ip <IP>")
  }

  test("email redaction wins over the IP pattern inside a domain") {
    val red = Seq((1L, "x 1.2.3.4@dotted.example.com y"))
      .toDF("id", "text")
      .select(Pii.redact(col("text"))).head().getString(0)
    assert(red == "x <EMAIL> y")
  }
}
