package graft

/** Mathematical invariants of the in-engine BPE trainer — the oracle
  * gate proves cross-engine parity of the rounds; these prove the
  * merges mean what they claim. */
class BpeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("segmentation is lossless and each learned merge reaches its fixed point") {
    val seg = SparkEntry.queries("bpe_segment")(spark, dir).collect()
    assert(seg.nonEmpty)
    // losslessness: the symbols of every segmentation concatenate back
    // to the word — a merge can regroup characters, never drop them
    seg.foreach { r =>
      val (word, s) = (r.getString(0), r.getString(2))
      val syms = s.stripPrefix("(").stripSuffix(")").split("\\)\\(")
      assert(syms.mkString == word, s"$word segmented as $s")
    }
    // fixed point: a merged pair cannot survive adjacent in any final
    // segmentation — replace is exhaustive left-to-right, and later
    // merges only grow symbols (they cannot split one back into the
    // pair's halves)
    val merges = SparkEntry.queries("bpe_merges")(spark, dir).collect()
    assert(merges.length == graft.ops.TextOps.BpeRounds)
    merges.foreach { m =>
      val (l, r) = (m.getString(1), m.getString(2))
      val leftover = seg.find(_.getString(2).contains(s"($l)($r)"))
        .map(_.getString(2)).getOrElse("")
      assert(leftover.isEmpty, s"pair ($l,$r) survives in $leftover")
      assert(m.getLong(3) > 0)
    }
    // merges are distinct pairs (a repeated winner would mean the
    // previous round's replace silently failed)
    val pairs = merges.map(m => (m.getString(1), m.getString(2)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("training stops at saturation instead of crashing on an empty pair table") {
    // ask for far more rounds than this 31-word vocabulary can supply:
    // once every word is a single symbol there are no pairs left, and
    // classical BPE stops — found by the round-9 probe, where a 3-char
    // saturating vocabulary crashed round 3 with an empty collect
    val (merges, words) = graft.ops.TextOps.bpeTrain(spark, dir, rounds = 200)
    assert(merges.nonEmpty && merges.length < 200)
    // saturation reached: every word is ONE symbol — the total symbol
    // count equals the vocabulary size (chain built by the production
    // builder, over the word column)
    val chain = graft.ops.TextOps.bpeChainExpr(merges, v = "word")
    import org.apache.spark.sql.functions._
    val totalSyms = words
      .select(expr(s"length($chain) - length(replace($chain, '(', ''))").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(totalSyms == words.count(),
      s"saturated training must leave one symbol per word ($totalSyms vs ${words.count()})")
  }

  test("bpe_norm/bpe_atomize are exact twins of the regex normalize/wrap (r19)") {
    import org.apache.spark.sql.functions._
    assert(spark.catalog.functionExists("bpe_norm"), "extension not loaded")
    // corpus tokens + adversarial strings: digits, unicode (multi-byte
    // UTF-8), punctuation, empty, mixed
    import spark.implicits._
    val adversarial = Seq("abc", "a1b2", "0123456789", "héllo", "日本語",
      "a-b.c", "", "...", "ABC" /* pre-lower() uppercase strips */,
      "x0y9z").toDF("w")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("w"))
    for (df <- Seq(adversarial, corpus)) {
      val cmp = df.select(
        expr("bpe_norm(w)").as("native"),
        regexp_replace(translate(col("w"), "0123456789", "qwertyuiop"),
          "[^a-z]", "").as("regex"),
        expr("bpe_atomize(w)").as("nativeW"),
        regexp_replace(regexp_replace(translate(col("w"), "0123456789",
          "qwertyuiop"), "[^a-z]", ""), "(.)", "($1)").as("regexW"))
      assert(cmp.filter(col("native") =!= col("regex")
        || col("nativeW") =!= col("regexW")).isEmpty,
        cmp.filter(col("native") =!= col("regex")
          || col("nativeW") =!= col("regexW")).collect().mkString("\n"))
    }
  }

  test("atomized bpe_token_count matches the regex-fallback plan row-for-row (r19)") {
    val (merges, _) = graft.ops.TextOps.bpeTrain(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val atomized = graft.streaming.DocStreams.bpeTokenizeScreen(docs,
      graft.ops.TextOps.bpeChainExpr(merges, preAtomized = true), atomized = true)
    val fallback = graft.streaming.DocStreams.bpeTokenizeScreen(docs,
      graft.ops.TextOps.bpeChainExpr(merges))
    val a = atomized.collect().map(_.toSeq).toSet
    val b = fallback.collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("the wrapped output length is computed in Long and refused above Int.MaxValue") {
    import graft.functions.BpeNorm.wrappedLength
    assert(wrappedLength(0) == 0)
    assert(wrappedLength(Int.MaxValue / 3) == 3 * (Int.MaxValue / 3))
    // one more kept character wraps 3 * kept in Int; the guard names it
    val e = intercept[IllegalArgumentException](wrappedLength(Int.MaxValue / 3 + 1))
    assert(e.getMessage.contains("bpe output exceeds max array size"), e.getMessage)
    intercept[IllegalArgumentException](wrappedLength(Int.MaxValue))
  }
}
