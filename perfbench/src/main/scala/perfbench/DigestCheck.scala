package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Self-test of [[Digest]], run by `perfbench/tests/test_stats.py`: the
  * digest must not depend on row order, must absorb float noise below its
  * rounding, and must still see a changed value. Exits non-zero on the
  * first failed check.
  */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType),
      StructField("tags", ArrayType(StringType)), StructField("v", FloatType)))
    def row(id: Long, score: Double, tags: Seq[String], v: Float): Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](id, score, tags, v), schema)
    val rows = (0 until 200).map(i => row(i.toLong, i * 0.1, Seq(s"t$i", "x"), i / 7.0f))
    val base = Digest.of(rows)

    val checks = Seq(
      "reversed rows" -> (Digest.of(rows.reverse) == base),
      "shuffled rows" -> (Digest.of(new scala.util.Random(7).shuffle(rows)) == base),
      "array element order" -> (Digest.of(rows.map(r =>
        row(r.getLong(0), r.getDouble(1), r.getSeq[String](2).reverse, r.getFloat(3)))) == base),
      "double noise below 10 significant digits" -> (Digest.of(rows.map(r =>
        row(r.getLong(0), r.getDouble(1) * (1 + 1e-14), r.getSeq[String](2), r.getFloat(3)))) == base),
      "changed value" -> (Digest.of(rows.updated(5, row(5L, 0.6, Seq("t5", "x"), 5 / 7.0f))) != base),
      "dropped row" -> (Digest.of(rows.tail) != base),
      "duplicated row" -> (Digest.of(rows :+ rows.head) != base)
    )
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    if (checks.exists(!_._2)) sys.exit(1)
  }
}
