package graft.text

import graft.TestSpark
import graft.functions.KernelText
import org.apache.spark.sql.functions.{col, filter, lower, split}
import org.scalatest.funsuite.AnyFunSuite

/** The column-side tokenizer (codegen'd split in the executors) and the
  * driver-side tokenizer (used to parse query terms) MUST agree on
  * every input — the entire match path (query term == indexed token)
  * rests on it. Property-checked over generated adversarial strings.
  */
class TokenizerParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def genStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(1234)
    val alphabet =
      "abcXYZ019 \t\n-_.#@$%\"'()[]{}|\\/~`^&*+=;:<>?!,éüñÄß漢字🙂"
    (0 until n).map { _ =>
      (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "" :+ "   " :+ "ALLCAPS" :+ "a1b2c3" :+ "--=--"
  }

  test("column tokenizer == driver tokenizer (ascii/none mode)") {
    import spark.implicits._
    val inputs = genStrings(500)
    val got = inputs.toDF("s")
      .select(col("s"), Tokenizer.tokensCol(col("s")).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    got.foreach { case (s, colToks) =>
      val driverToks = Tokenizer.tokenize(s, Tokenize.None_)
      assert(colToks == driverToks,
        s"mismatch for ${s.map(c => f"\\u${c.toInt}%04x").mkString}: " +
          s"column=$colToks driver=$driverToks")
    }
  }

  test("column tokenizer == driver tokenizer (porter mode)") {
    import spark.implicits._
    val inputs = genStrings(300)
    val got = inputs.toDF("s")
      .select(col("s"), Tokenizer.tokens(col("s"), Tokenize.Porter).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    got.foreach { case (s, colToks) =>
      assert(colToks == Tokenizer.tokenize(s, Tokenize.Porter))
    }
  }

  test("column tokenizer == driver tokenizer (unicode61 mode)") {
    import spark.implicits._
    val inputs = genStrings(300)
    val got = inputs.toDF("s")
      .select(col("s"), Tokenizer.tokens(col("s"), Tokenize.Unicode61).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    got.foreach { case (s, colToks) =>
      assert(colToks == Tokenizer.tokenize(s, Tokenize.Unicode61))
    }
    // unicode61 keeps letters, folds diacritics, never stems
    assert(Tokenizer.tokenize("Café RUNNING", Tokenize.Unicode61) ==
      Seq("cafe", "running"))
  }

  test("column tokenizer == driver tokenizer (fts5 ascii mode)") {
    import spark.implicits._
    val inputs = genStrings(300)
    val got = inputs.toDF("s")
      .select(col("s"), Tokenizer.tokens(col("s"), Tokenize.Ascii).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    got.foreach { case (s, colToks) =>
      assert(colToks == Tokenizer.tokenize(s, Tokenize.Ascii))
    }
    // fts5 ascii: >0x7F are token chars (kept verbatim, case preserved),
    // ASCII folds, ASCII punctuation separates
    assert(Tokenizer.tokenize("Café-BAR É漢字 x", Tokenize.Ascii) ==
      Seq("café", "bar", "É漢字", "x"))
  }

  test("kernel scanner == regex split; kernel hash == Dedup.portableHash") {
    import spark.implicits._
    val got = genStrings(500).toDF("s")
      .select(col("s"),
        filter(split(lower(col("s")), "[^a-z0-9]+"), t => t =!= "").as("toks"),
        lower(col("s")).as("lowered"),
        graft.ext.Dedup.portableHash(col("s")).as("h"))
      .collect()
    got.foreach { r =>
      val s = r.getString(0)
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      KernelText.foreachToken(r.getString(2))(toks += _)
      assert(toks == r.getSeq[String](1), s)
      assert(KernelText.hasher.hash(s) == r.getLong(3), s)
    }
  }

  test("FTS5 tokenizer specs parse like the reference CLI (cli.py:22-26)") {
    assert(Tokenize.parse("porter") == Tokenize.Porter)
    assert(Tokenize.parse("porter unicode61") == Tokenize.Porter)
    assert(Tokenize.parse("unicode61") == Tokenize.Unicode61)
    assert(Tokenize.parse("unicode61 remove_diacritics 2") == Tokenize.Unicode61)
    // --tokenize none drops the porter wrapper → FTS5's DEFAULT
    // tokenizer, which is unicode61 (ADVICE r3)
    assert(Tokenize.parse("none") == Tokenize.Unicode61)
    // fts5 ascii is its own pipeline: >0x7F kept as token chars
    assert(Tokenize.parse("ascii") == Tokenize.Ascii)
    intercept[IllegalArgumentException](Tokenize.parse("trigram33"))
  }
}
