package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.{AlphaOps, EmojiOps, NoiseOps, ShingleOps, TokenOps}

/** Property-based checks (SURVEY §5.2.5) over the native expression
  * helpers — pure JVM, no SparkSession needed. */
object NativeOpsProps extends Properties("graft.native") {

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      8 -> Gen.alphaChar.map(_.toString), 2 -> Gen.const(" "),
      1 -> Gen.const("\t"), 1 -> Gen.oneOf("😀", "🚀", "☀"))).map(_.mkString)

  private def strip(s: String): String =
    EmojiOps.strip(UTF8String.fromString(s)).toString

  property("emoji strip is idempotent") = Prop.forAll(asciiText) { s =>
    strip(strip(s)) == strip(s)
  }

  property("emoji strip output has no emoji codepoints") =
    Prop.forAll(asciiText) { s =>
      strip(s).codePoints().toArray.forall(cp => !EmojiOps.isEmoji(cp))
    }

  property("emoji strip of emoji-free text = whitespace normalize") =
    Prop.forAll(Gen.listOf(Gen.oneOf(Gen.alphaStr, Gen.const(" "))).map(_.mkString)) { s =>
      strip(s) == s.split("\\s+", -1).mkString(" ")
    }

  private val messyText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      6 -> Gen.alphaChar.map(_.toString), 3 -> Gen.const(" "),
      1 -> Gen.const("\t"), 1 -> Gen.const("\n"),
      1 -> Gen.oneOf(",", ".", "1", "_", "@", "-"),
      1 -> Gen.oneOf("😀", "é", "ß", "中", " "))).map(_.mkString)

  property("AlphaOps.fold equals the regex composition F5·F6·trim·lower") =
    Prop.forAll(messyText) { s =>
      val want = s.replaceAll("[^A-Za-z ]+", "").replaceAll("\\s+", " ")
        .trim.toLowerCase(java.util.Locale.ROOT)
      AlphaOps.fold(UTF8String.fromString(s)).toString == want
    }

  /** Fragments chosen to hit every branch of the three noise passes:
    * partial/overlapping "http" literals, @ runs, covid variants in mixed
    * case with every suffix and boundary shape, plus unicode. */
  private val noisyText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      4 -> Gen.alphaChar.map(_.toString), 4 -> Gen.const(" "),
      2 -> Gen.oneOf("http", "htt", "http://x.co", "xhttp", "http "),
      2 -> Gen.oneOf("@", "@user", "@_1", "a@b", "@@"),
      3 -> Gen.oneOf("covid", "COVID-19", "Covid19", "covid_19", "covid-19",
        "covi", "covidx", "xcovid", "-19", "19", "_19", "co@xvid"),
      1 -> Gen.oneOf("\t", "\n", ",", ".", "1", "_", "-"),
      1 -> Gen.oneOf("😀", "é", "中"))).map(_.mkString)

  property("NoiseOps.strip equals the regex passes F2·F3·F4") =
    Prop.forAll(noisyText) { s =>
      val want = s.replaceAll("http\\S+", "").replaceAll("@\\w+", "")
        .replaceAll("(?i)\\b(?:covid-19|covid19|covid_19|covid)\\b", "")
      NoiseOps.strip(UTF8String.fromString(s)).toString == want
    }

  property("full native clean chain equals the full regex chain") =
    Prop.forAll(noisyText) { s =>
      val f1 = s.split("\\s+", -1)
        .filter(_.codePoints().toArray.forall(cp => !EmojiOps.isEmoji(cp)))
        .mkString(" ")
      val want = f1.replaceAll("http\\S+", "").replaceAll("@\\w+", "")
        .replaceAll("(?i)\\b(?:covid-19|covid19|covid_19|covid)\\b", "")
        .replaceAll("[^A-Za-z ]+", "").replaceAll("\\s+", " ")
        .trim.toLowerCase(java.util.Locale.ROOT)
      val got = AlphaOps.fold(NoiseOps.strip(EmojiOps.strip(
        UTF8String.fromString(s)))).toString
      got == want
    }

  property("strHash31 is in [0, 2^31) and deterministic") =
    Prop.forAll(asciiText) { s =>
      val h = TokenOps.strHash31(UTF8String.fromString(s))
      h >= 0 && h < 2147483647L &&
        h == TokenOps.strHash31(UTF8String.fromString(s))
    }

  private val wordArray: Gen[Array[String]] =
    Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "ee", "fff")).map(_.toArray)

  private def arr(a: Array[String]): GenericArrayData =
    new GenericArrayData(a.map(w => UTF8String.fromString(w): Any))

  property("shingles: count <= n-2 shifts, all 3 words long, distinct") =
    Prop.forAll(wordArray) { w =>
      val sh = ShingleOps.shingles(arr(w), 3)
      val out = (0 until sh.numElements()).map(sh.getUTF8String(_).toString)
      val expectedCount = math.max(0, w.length - 2)
      out.size <= expectedCount &&
        out.forall(_.split(" ").length == 3) &&
        out.distinct.size == out.size
    }

  property("shingles match the naive sliding-window set") =
    Prop.forAll(wordArray) { w =>
      val sh = ShingleOps.shingles(arr(w), 3)
      val got = (0 until sh.numElements()).map(sh.getUTF8String(_).toString).toSet
      val want = w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      got == want
    }

  property("MinHashSig equals the exploded 16-min formulation") =
    Prop.forAll(wordArray) { w =>
      val sh = w.distinct // any distinct string set, like ShingleSet output
      val got = graft.functions.MinHashOps.sig(arr(sh))
      val hs = sh.map(g => TokenOps.strHash31(UTF8String.fromString(g)))
      (0 until 16).forall { j =>
        val want =
          if (hs.isEmpty) Long.MaxValue
          else hs.map(h => ((2 * j + 1) * h + j * 40503L) % 2147483647L).min
        got.getLong(j) == want
      }
    }

  property("SimHash16 equals the grouped count * (+-1) bit-sum formulation") =
    Prop.forAll(wordArray) { w =>
      val counts = w.groupBy(identity).map { case (word, occ) =>
        (TokenOps.strHash31(UTF8String.fromString(word)), occ.length.toLong)
      }
      val want = (0 until 16).map { j =>
        val s = counts.map { case (h, cnt) => cnt * (((h >> j) & 1L) * 2L - 1L) }.sum
        if (s > 0) 1L << j else 0L
      }.sum
      graft.functions.RowStatOps.simhash16(arr(w)) == want
    }

  property("LenHist equals the 10 conditional length sums") =
    Prop.forAll(wordArray) { w =>
      val got = graft.functions.RowStatOps.lenHist(arr(w))
      (1 to 10).forall(k => got.getLong(k - 1) == w.count(_.length == k).toLong)
    }

  property("TokenStats equals the conditional-sum formulation") =
    Prop.forAll(Gen.listOf(Gen.oneOf("a", "the", "", "word", "xx", "of"))) { l =>
      val w = l.toArray
      val sw = Seq("a", "the", "and", "of", "to", "in", "is", "it", "on", "for")
      val got = graft.functions.RowStatOps.tokenStats(
        arr(w), sw.map(UTF8String.fromString).toArray)
      got.getLong(0) == w.count(_ != "").toLong &&
        got.getLong(1) == w.count(sw.contains).toLong &&
        got.getLong(2) == w.map(_.length.toLong).sum
    }

  property("FrameSample equals every-16th-codepoint of the string") =
    Prop.forAll(asciiText) { s =>
      val got = graft.functions.RowStatOps.frameSample(UTF8String.fromString(s))
      val cps = s.codePoints().toArray
      val want = cps.indices.filter(_ % 16 == 0).map(cps(_))
      got.numElements() == want.size &&
        want.indices.forall(k => got.getInt(k) == want(k))
    }

  property("WordTfPairs equals groupBy-count over the array") =
    Prop.forAll(wordArray) { w =>
      val got = graft.functions.RowStatOps.wordTfPairs(arr(w))
      val pairs = (0 until got.numElements()).map { k =>
        val r = got.getStruct(k, 2)
        (r.getUTF8String(0).toString, r.getLong(1))
      }
      val want = w.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
      pairs.toMap == want && pairs.map(_._1).distinct.size == pairs.size
    }

  private val rawText: Gen[String] =
    Gen.listOf(Gen.frequency[String](
      5 -> Gen.alphaChar.map(_.toString), 3 -> Gen.const(" "),
      2 -> Gen.oneOf("1", "42", "a1b", "x9"),
      2 -> Gen.oneOf(",", ".", "@", "#", "--", "!?"),
      1 -> Gen.oneOf("\t", "\n", " "),
      1 -> Gen.oneOf("é", "中", "😀", "ß"))).map(_.mkString)

  property("TokenCounts equals the split-filter count and regexp_count") =
    Prop.forAll(rawText) { s =>
      val got = graft.functions.RowStatOps.tokenCounts(UTF8String.fromString(s))
      val wantWs = s.split("\\s+", -1).count(_.nonEmpty).toLong
      val m = java.util.regex.Pattern
        .compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").matcher(s)
      var wantBpe = 0L
      while (m.find()) wantBpe += 1
      got.getLong(0) == wantWs && got.getLong(1) == wantBpe
    }

  /** Words over four letters, up to three long: 84 words whose weighted
    * codepoint sums collide often, so strHash31 ties are common. */
  private val tieWord: Gen[String] = Gen.choose(1, 3)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))

  private val tiePairs: Seq[(String, String)] = {
    val words = for (n <- 1 to 3; w <- Seq.fill(n)("abcd").foldLeft(Seq(""))(
      (acc, letters) => for (p <- acc; c <- letters) yield p + c)) yield w
    words.groupBy(w => TokenOps.strHash31(UTF8String.fromString(w))).values
      .flatMap(g => for (a <- g; b <- g if a != b) yield (a, b)).toSeq
  }

  private def prefix(ws: Iterable[String], num: Int, den: Int): Seq[String] = {
    val p = TokenOps.jaccardPrefix(arr(ws.toArray), num, den)
    (0 until p.numElements()).map(p.getUTF8String(_).toString)
  }

  property("jaccardPrefix orders by strHash31, then by the UTF-8 bytes on a hash tie") =
    Prop.forAll(Gen.oneOf(Gen.oneOf(tiePairs), Gen.zip(tieWord, tieWord))) { case (a, b) =>
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      val (ha, hb) = (TokenOps.strHash31(ua), TokenOps.strHash31(ub))
      val first = if (ha < hb || (ha == hb && ua.compareTo(ub) <= 0)) a else b
      prefix(Seq(a, b).distinct, 1, 1) == Seq(first) &&
        prefix(Seq(b, a).distinct, 1, 1) == Seq(first)
    }

  /** A distinct word set and a near copy of it (some words dropped, some
    * added), so that pairs at every threshold below come up often. */
  private val nearSets: Gen[(Set[String], Set[String])] = for {
    x <- Gen.choose(1, 40).flatMap(n => Gen.containerOfN[Set, String](n, tieWord))
      .suchThat(_.nonEmpty)
    drop <- Gen.choose(0, x.size / 3).flatMap(k => Gen.pick(k, x.toSeq))
    add <- Gen.choose(0, 4).flatMap(k => Gen.listOfN(k, tieWord))
  } yield (x, x -- drop ++ add)

  property("jaccardPrefix: a pair at J >= num/den shares a prefix word and passes " +
      "the length filter") =
    Prop.forAll(nearSets, Gen.oneOf((9, 10), (1, 2), (1, 5))) { case ((x, y), (num, den)) =>
      val (inter, union) = ((x & y).size.toLong, (x | y).size.toLong)
      (den * inter >= num * union) ==> {
        val (px, py) = (prefix(x, num, den), prefix(y, num, den))
        px.size == TokenOps.prefixLength(x.size, num, den) &&
          px.exists(py.toSet) &&
          num.toLong * x.size <= den.toLong * y.size &&
          num.toLong * y.size <= den.toLong * x.size
      }
    }

  property("sortedIntersectSize equals naive set intersection") =
    Prop.forAll(wordArray, wordArray) { (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val got = ShingleOps.sortedIntersectSize(arr(sa), arr(sb))
      got == sa.toSet.intersect(sb.toSet).size.toLong
    }

  /** Random bounded vocab over the same alphabet as wordArray, with
    * distinct words and arbitrary positions (like the real top-V: distinct
    * words, positions 0..V-1). */
  private val vocabGen: Gen[Seq[(String, Long)]] =
    Gen.someOf(Seq("a", "b", "c", "dd", "ee", "fff", "zz"))
      .map(_.zipWithIndex.map { case (w, i) => (w, i.toLong) }.toSeq)

  property("VocabPositions equals sorted per-occurrence join positions") =
    Prop.forAll(wordArray, vocabGen) { (w, vocab) =>
      val m = new java.util.HashMap[UTF8String, java.lang.Long]()
      vocab.foreach { case (s, p) => m.put(UTF8String.fromString(s), p) }
      val got = graft.functions.RowStatOps.vocabPositions(arr(w), m)
      // the join formulation: one pos per token occurrence whose word is in
      // the (distinct-keyed) vocab, then sort_array ascending
      val vm = vocab.toMap
      val want = w.toSeq.flatMap(vm.get).sorted
      got.numElements() == want.size &&
        want.indices.forall(k => got.getLong(k) == want(k))
    }
}
