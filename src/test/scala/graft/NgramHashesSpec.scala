package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.NgramHashes

/** [[NgramHashes]] replaced a declarative gram-hash expression in
  * TextOps; that expression is kept here as the reference. Pinned: for
  * every n the kernel's hashes equal the reference's, in order, and
  * its `first` flags mark exactly each gram's first window, on texts
  * with double, leading and trailing spaces, non-ASCII words, invalid
  * UTF-8, null, empty, and fewer words than n. */
class NgramHashesSpec extends SparkSpec {
  import spark.implicits._

  /** The interpreted form the kernel replaced: split once, then md5 of
    * each space-joined n-token slice; fewer than n tokens (and null)
    * give an empty array. */
  private def reference(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b a b a b a b",
    "double  space  here and  there",
    " leading space words",
    "trailing space words ",
    "  both ends  ",
    " ",
    "   ",
    "",
    "short",
    "two words",
    "naïve café über straße 日本語 テキスト ok",
    "emoji 🙂 in 🙂 text 🙂",
    null)

  private def check(df: org.apache.spark.sql.DataFrame, ns: Seq[Int]): Unit =
    ns.foreach { n =>
      val rows = df.withColumn("_toks", split(col("text"), " "))
        .select(col("text"), reference(col("_toks"), n).as("want"),
          NgramHashes.hashes(col("text"), n).as("got"))
        .collect()
      rows.foreach { r =>
        val want = r.getSeq[String](1)
        val got = r.getSeq[org.apache.spark.sql.Row](2)
        val ctx = s"n=$n text=[${r.getString(0)}]"
        assert(got.map(_.getString(0)) == want, ctx)
        val firsts = want.indices.map(i => !want.take(i).contains(want(i)))
        assert(got.map(_.getBoolean(1)) == firsts, ctx)
      }
    }

  test("kernel ≡ the split/slice/concat_ws/md5 expression on edge texts, n = 1..6") {
    check(texts.toDF("text"), 1 to 6)
  }

  test("kernel ≡ reference on generated texts with irregular spacing") {
    val rnd = new scala.util.Random(7)
    val words = Seq("a", "b", "c", "ab", "ü", "ß", "日")
    val gen = (0 until 300).map { _ =>
      (0 until rnd.nextInt(12)).map { _ =>
        words(rnd.nextInt(words.size)) + (" " * rnd.nextInt(3))
      }.mkString(if (rnd.nextBoolean()) " " else "")
    }
    check(gen.toDF("text"), Seq(1, 2, 3, 5))
  }

  test("invalid UTF-8 hashes as split's re-encoded text does") {
    // 0xFF is never valid UTF-8; split decodes and re-encodes it as
    // U+FFFD, and the kernel must hash the same bytes
    val df = Seq("61ff2062", "ff20ff20c3", "6120ff").toDF("h")
      .select(unhex(col("h")).cast("string").as("text"))
    check(df, Seq(1, 2))
  }
}
