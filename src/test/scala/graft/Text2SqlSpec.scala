package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.text2sql.SqlExtract

class Text2SqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("SqlExtract strips all surrounding whitespace, fenced or bare") {
    val raw = Seq(
      "```sql\nSELECT 1\n```",
      "intro ```sql  SELECT 1  ``` outro",
      "```sql\r\n\tSELECT 1\t\r\n```",
      "SELECT 1",
      "\n SELECT 1 \n")
    val got = raw.toDF("raw").select(SqlExtract(col("raw"))).as[String].collect()
    assert(got.toSeq == Seq.fill(raw.size)("SELECT 1"), got.mkString("|"))
  }
}
