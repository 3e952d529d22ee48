package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Docs

/** Pins [[GramHashes]] to the builtin formulation it replaces — the
  * xxhash64 of every `ngramAt(words(text), i, n)` — for n = 3 and n = 5,
  * on adversarial inputs (every `\s` byte and runs of them as
  * separators, leading/trailing whitespace, blank, whitespace-only,
  * fewer-than-n tokens, multibyte and astral-plane code points, null) and
  * on the 5,000-document benchmark corpus. */
class GramHashesSpec extends SparkSpec {

  private def builtin(text: Column, n: Int): Column = {
    val ws = Docs.words(text)
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i => xxhash64(Docs.ngramAt(ws, i, n))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Rows (id, kernel, builtin) where the two differ, for n = 3 and 5;
    * a null text must give null. */
  private def mismatches(df: DataFrame): Seq[String] =
    Seq(3, 5).flatMap { n =>
      df.select(col("id"), col("text").isNull.as("nul"),
          GramHashExprs.gramHashes(col("text"), n).as("got"), builtin(col("text"), n).as("want"))
        .collect().toSeq.flatMap { r =>
          val ok = if (r.getBoolean(1)) r.isNullAt(2) else r.getSeq[Long](2) == r.getSeq[Long](3)
          if (ok) None else Some(s"n=$n id=${r.getLong(0)}: ${r.get(2)} vs ${r.get(3)}")
        }
    }

  test("gram_hashes equals xxhash64 of each ngramAt(words(text)) on adversarial inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val alphabets = Seq("abcdef", "éüñßø", "日本語漢字", "😀🎉🚀", "a1!_-")
    def tok(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      (0 until 1 + rnd.nextInt(6)).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    val seps = Seq(" ", " ", " ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t\n\u000B\f\r ")
    val gen = (0 until 300).map { i =>
      val body = (0 until rnd.nextInt(40)).map(_ => tok())
        .mkString(seps(rnd.nextInt(seps.length)))
      (i.toLong, if (i % 7 == 0) s" \t$body\r\n" else body)
    }
    val edge = Seq((900L, ""), (901L, "   "), (902L, "\t\n\u000B\f\r"), (903L, "x"),
      (904L, "a b"), (905L, "a b c d"), (906L, "a  b\tc\nd\re"), (907L, " a b c d e "),
      (908L, "😀 é 日本 😀 é"), (909L, " a  b c d e"), (910L, "a b c d e f g"))
    val df = (gen ++ edge).toDF("id", "text")
      .union(Seq((999L, Option.empty[String])).toDF("id", "text"))
    assert(mismatches(df).isEmpty, mismatches(df).take(5).mkString("\n"))
    // fewer than n tokens, and blank text, give no grams
    val short = df.filter(col("id").isin(900L, 901L, 904L, 905L))
      .select(size(GramHashExprs.gramHashes(col("text"), 5))).as[Int].collect()
    assert(short.toSeq === Seq(0, 0, 0, 0))
  }

  test("gram_hashes equals the builtin on the benchmark corpus") {
    val docs = spark.read.parquet("perfbench/data/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    assert(docs.count() === 5000L)
    val bad = mismatches(docs)
    assert(bad.isEmpty, s"${bad.size} mismatches:\n${bad.take(5).mkString("\n")}")
  }
}
