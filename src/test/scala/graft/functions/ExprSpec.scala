package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

class ExprSpec extends SparkSpec {
  import spark.implicits._

  /** `cols` over `df` with generated code only, then interpreted only.
    * Whole-stage codegen is off, so the codegen factory mode alone picks
    * how the projection evaluates. `df` must not be a bare local relation:
    * the optimizer would fold the projection, interpreted, before either
    * mode applies.
    */
  private def codegenAndInterpreted(df: DataFrame,
                                    cols: Column*): (Seq[Row], Seq[Row]) = {
    def eval(mode: String): Seq[Row] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      df.select(cols: _*).collect().toSeq
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try (eval("CODEGEN_ONLY"), eval("NO_CODEGEN"))
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("simhash64: codegen and interpreted paths agree; SQL registration works") {
    GraftFunctions.register(spark)
    val df = Seq(Tuple1(Seq("a", "b", "c")), Tuple1(Seq[String]()),
      Tuple1(null.asInstanceOf[Seq[String]])).toDF("toks")
    val viaColumn = df.select(GraftFunctions.simhash64($"toks")).collect()
    val viaSql = df.selectExpr("simhash64(toks)").collect()
    assert(viaColumn.map(_.get(0)).toSeq == viaSql.map(_.get(0)).toSeq)
    assert(viaColumn(2).isNullAt(0), "null in → null out")
    // direct static-path reference value
    val expected = viaColumn(0).getLong(0)
    // whole-stage-codegen disabled → interpreted eval must match
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(GraftFunctions.simhash64($"toks")).collect()(0).getLong(0)
      assert(interp == expected)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("simhash similarity property: close token sets → small hamming") {
    val a = (0 until 100).map(i => s"t$i")
    val b = a.dropRight(3) ++ Seq("x1", "x2", "x3")
    val c = (0 until 100).map(i => s"u$i")
    val df = Seq(Tuple1(a), Tuple1(b), Tuple1(c)).toDF("toks")
    val sigs = df.select(GraftFunctions.simhash64($"toks")).as[Long].collect()
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs(0), sigs(1)) < ham(sigs(0), sigs(2)),
      s"near ${ham(sigs(0), sigs(1))} !< far ${ham(sigs(0), sigs(2))}")
  }

  test("rolling_hash64 deterministic and order-sensitive") {
    val df = Seq(Tuple1(Seq("a", "b")), Tuple1(Seq("b", "a")), Tuple1(Seq("a", "b")))
      .toDF("toks")
    val h = df.select(GraftFunctions.rolling_hash64($"toks")).as[Long].collect()
    assert(h(0) == h(2) && h(0) != h(1))
  }

  test("word_shingle_hashes matches the higher-order TextOps chain") {
    import graft.ops.TextOps
    val df = Seq(
      Tuple1("The quick brown fox jumps over the lazy dog"),
      Tuple1("two toks"), // shorter than n → one whole-text shingle
      Tuple1(""),
      Tuple1("a a a a a") // repeated shingles → distinct collapses
    ).toDF("text")
    val fast = df.select(GraftFunctions.word_shingle_hashes($"text", 3)).collect()
      .map(_.getSeq[Long](0))
    // the HOF reference chain it replaces (string shingles, then FNV)
    val slow = df.select(TextOps.shingles(TextOps.tokens($"text"), 3)).collect()
      .map(_.getSeq[String](0).distinct.map(s =>
        Fnv64.hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    fast.zip(slow).zipWithIndex.foreach { case ((f, s), i) =>
      assert(f == s, s"row $i: $f vs $s")
    }
    // interpreted path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(GraftFunctions.word_shingle_hashes($"text", 3))
        .collect().map(_.getSeq[Long](0))
      assert(interp.toSeq.map(_.toSeq) == fast.toSeq.map(_.toSeq))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("minhash_slots: one-pass minima equal the per-slot reference") {
    val df = Seq(Tuple1(Seq(3L, 99L, -5L, 12345L)), Tuple1(Seq(7L)))
      .toDF("hs")
    val got = df.select(GraftFunctions.minhash_slots($"hs", 8)).collect()
      .map(_.getSeq[Long](0))
    val want = Seq(Seq(3L, 99L, -5L, 12345L), Seq(7L)).map(hs =>
      (0 until 8).map(j => hs.map(h => MinHashSlots.mix(h, j)).min))
    assert(got.toSeq.map(_.toSeq) == want)
    // same input → same slots; different slot index → (overwhelmingly) different family
    assert(got(0).distinct.length > 1)
  }

  test("grok_match: one-pass struct equals the rlike + regexp_extract pile") {
    import graft.alco.Parse
    val texts = Seq(
      """CALL bash args={"cmd":"op_1","n":"3"} dur_ms=57""",
      "RESULT status=ok bytes=1024 msg=done step 3 of run",
      "free text that matches neither",
      "",
      null.asInstanceOf[String])
    val df = texts.map(Tuple1(_)).toDF("text")
    val p = Parse.P1
    val got = df.select(
      GrokMatch.grok_match($"text", p.regex, p.fields).as("g")).collect()
    // reference: the expression pile grok_match replaces
    val ref = df.select(
      $"text".rlike(p.regex).as("m"),
      regexp_extract($"text", p.regex, p.groupOf("called_tool")).as("ct"),
      regexp_extract($"text", p.regex, p.groupOf("args_json")).as("aj"),
      regexp_extract($"text", p.regex, p.groupOf("dur_ms")).as("dm")).collect()
    got.zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
      if (r.isNullAt(0)) assert(g.isNullAt(0), s"row $i: null in → null out")
      else if (!r.getBoolean(0)) assert(g.isNullAt(0), s"row $i: no match → null struct")
      else {
        val s = g.getStruct(0)
        assert(s.getAs[String]("called_tool") == r.getString(1), s"row $i ct")
        assert(s.getAs[String]("args_json") == r.getString(2), s"row $i aj")
        assert(s.getAs[String]("dur_ms") == r.getString(3), s"row $i dm")
      }
    }
    // interpreted path agrees with codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(
        GrokMatch.grok_match($"text", p.regex, p.fields).as("g")).collect()
      assert(interp.map(r => if (r.isNullAt(0)) null else r.getStruct(0).toString).toSeq
        == got.map(r => if (r.isNullAt(0)) null else r.getStruct(0).toString).toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("type check rejects non-array input") {
    val e = intercept[Exception] {
      Seq(1).toDF("x").select(GraftFunctions.simhash64($"x")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("max_by_row/min_by_row equal the groupBy-sort oracle across partitions") {
    // duplicate-heavy, many partitions: exercises update, shuffle
    // serialize/deserialize, and merge in both comparison directions
    val rows = (0 until 2000).map { i =>
      (i % 37L, i.toLong, s"p$i") // key, ord, payload
    }
    val df = rows.toDF("k", "ord", "payload").repartition(16)
    def byRow(reverse: Boolean) = df.groupBy($"k")
      .agg((if (reverse) MaxByRow.min_by_row _ else MaxByRow.max_by_row _)(
        struct($"ord", $"payload"), $"ord").as("r"))
      .select($"k", $"r.ord", $"r.payload")
      .as[(Long, Long, String)].collect().toSet
    val oracleMax = rows.groupBy(_._1).map { case (k, g) =>
      val (_, o, p) = g.maxBy(_._2); (k, o, p)
    }.toSet
    val oracleMin = rows.groupBy(_._1).map { case (k, g) =>
      val (_, o, p) = g.minBy(_._2); (k, o, p)
    }.toSet
    assert(byRow(reverse = false) == oracleMax)
    assert(byRow(reverse = true) == oracleMin)
  }

  test("proximity_match equals the HOF reference chain on randomized corpora") {
    // the exists/slice formulation it replaced, kept here as the oracle
    def hofProximity(terms: Seq[String], span: Int) = {
      val toks = filter(split(lower($"text"), "\\W+"), t => t =!= "")
      exists(sequence(lit(1), greatest(size(toks), lit(1))),
        i => terms.map(t => array_contains(slice(toks, i, lit(span)), t))
          .reduce(_ && _))
    }
    val vocab = Seq("spark", "table", "scan", "join", "x1", "_u", "42")
    val rng = new scala.util.Random(7)
    val texts = (0 until 400).map { i =>
      val sep = Seq(" ", ", ", "  --  ", "\t", "!")
      (0 until rng.nextInt(30)).map(_ => vocab(rng.nextInt(vocab.length)))
        .mkString(sep(rng.nextInt(sep.length))) + (if (i % 7 == 0) "," else "")
    } :+ "" :+ "SPARK Table spark" :+ "spark_table spark table"
    val df = texts.toDF("text").cache()
    for ((terms, span) <- Seq(
        (Seq("spark", "table"), 2), (Seq("spark", "table"), 4),
        (Seq("spark", "join", "scan"), 3), (Seq("42"), 1))) {
      val fast = df.select(GraftFunctions.proximity_match($"text", terms, span))
        .collect().map(_.getBoolean(0)).toSeq
      val slow = df.select(hofProximity(terms, span).cast("boolean"))
        .collect().map(_.getBoolean(0)).toSeq
      assert(fast == slow, s"terms=$terms span=$span")
    }
    // null text → null, matching the HOF chain
    val nulled = Seq[String](null).toDF("text")
      .select(GraftFunctions.proximity_match($"text", Seq("a"), 2)).collect()
    assert(nulled(0).isNullAt(0))
    // generated code ≡ interpreted eval of the same expression
    val (gen, interp) = codegenAndInterpreted(df,
      GraftFunctions.proximity_match($"text", Seq("spark", "table"), 4))
    assert(gen == interp)
  }

  test("cosine_sim equals the zip_with/aggregate formulation bit-for-bit") {
    // the replaced HOF chain, rebuilt verbatim as the oracle (r6)
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def hofCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val d = sqrt(hofDot(a, a)) * sqrt(hofDot(b, b))
      when(d === 0, lit(0.0)).otherwise(hofDot(a, b) / d)
    }
    val rng = new scala.util.Random(13)
    def vec(n: Int): Seq[Float] = Seq.fill(n)((rng.nextFloat() - 0.5f) * 4f)
    val rows: Seq[(Seq[Float], Seq[Float])] =
      (0 until 200).map(_ => (vec(64), vec(64))) ++ Seq(
        (Seq.empty[Float], Seq.empty[Float]),          // d == 0 → 0.0
        (Seq(0f, 0f), Seq(1f, 2f)),                    // zero vector → 0.0
        (Seq(1f, 2f), Seq(1f, 2f, 3f)),                // length mismatch → null
        (Seq.empty[Float], Seq(1f, 2f, 3f)),           // mismatch + zero norm → 0.0
        (Seq(0f, 0f), Seq(1f, 2f, 3f)),                // mismatch + zero norm → 0.0
        (Seq(Float.NaN, 1f), Seq(1f, 1f)))             // NaN propagates
    val df = rows.toDF("a", "b").cache()
    val fast = df.select(CosineSim.cosine_sim($"a", $"b")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    val slow = df.select(hofCos($"a", $"b")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    fast.zip(slow).zipWithIndex.foreach { case ((f, s), i) =>
      val eq = (f == null && s == null) ||
        (f != null && s != null && (f == s ||
          (f.asInstanceOf[Double].isNaN && s.asInstanceOf[Double].isNaN)))
      assert(eq, s"row $i: fast=$f slow=$s")
    }
    // null arrays → null on both sides
    val nulled = Seq((null.asInstanceOf[Seq[Float]], Seq(1f)))
      .toDF("a", "b")
      .select(CosineSim.cosine_sim($"a", $"b")).collect()
    assert(nulled(0).isNullAt(0))
    // interpreted ≡ codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(CosineSim.cosine_sim($"a", $"b")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
      // NaN-tolerant equality (NaN != NaN under ==)
      assert(interp.length == fast.length && interp.zip(fast).forall {
        case (null, null) => true
        case (x: java.lang.Double, y: java.lang.Double) =>
          x == y || (x.isNaN && y.isNaN)
        case _ => false
      })
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("sign_lsh_bucket equals the per-plane zip_with/aggregate formulation") {
    // Similarity.lshBucket's replaced Column formulation, rebuilt verbatim
    def planeComponent(plane: Int, d: org.apache.spark.sql.Column) =
      (pmod(xxhash64(lit(plane), d), lit(20001L)) - 10000L).cast("double") / 10000.0
    def hofBucket(vec: org.apache.spark.sql.Column, planes: Int) =
      (0 until planes).map { p =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast("double") * planeComponent(p, i)),
          lit(0.0), (acc, v) => acc + v)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    val rng = new scala.util.Random(29)
    val rows: Seq[Seq[Float]] =
      (0 until 200).map(_ => Seq.fill(1 + rng.nextInt(80))(
        (rng.nextFloat() - 0.5f) * 4f)) :+ Seq.empty[Float]
    val df = rows.map(Tuple1(_)).toDF("v").cache()
    for (planes <- Seq(1, 5, 12)) {
      val fast = df.select(SignLshBucket.sign_lsh_bucket($"v", planes))
        .collect().map(_.getLong(0)).toSeq
      val slow = df.select(hofBucket($"v", planes)).collect()
        .map(_.getLong(0)).toSeq
      assert(fast == slow, s"planes=$planes")
    }
    // null vector → null on both sides
    val nulled = Seq(Tuple1(null.asInstanceOf[Seq[Float]])).toDF("v")
      .select(SignLshBucket.sign_lsh_bucket($"v", 4)).collect()
    assert(nulled(0).isNullAt(0))
    // interpreted ≡ codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(SignLshBucket.sign_lsh_bucket($"v", 5))
        .collect().map(_.getLong(0)).toSeq
      val gen = df.select(hofBucket($"v", 5)).collect().map(_.getLong(0)).toSeq
      assert(interp == gen)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("terms_match equals the per-term array_contains formulation on fuzzed corpora") {
    // the replaced formulations, kept as oracles (r6, VERDICT r5 #3):
    // Grep.matchPredicate's split-based tokens (leading-empty edge included)
    def toks = split(lower($"text"), "\\W+")
    def refAny(terms: Seq[String]) =
      arrays_overlap(toks, array(terms.map(lit): _*))
    def refAll(terms: Seq[String]) =
      terms.map(t => array_contains(toks, t)).reduce(_ && _)
    def refQuorum(terms: Seq[String], k: Int) =
      terms.map(t => when(array_contains(toks, t), 1).otherwise(0))
        .reduce(_ + _) >= k
    val vocab = Seq("spark", "table", "scan", "join", "x1", "_u", "42", "TaBlE")
    val rng = new scala.util.Random(11)
    val seps = Seq(" ", ", ", "  --  ", "\t", "!", ".")
    val texts = (0 until 500).map { i =>
      val body = (0 until rng.nextInt(25))
        .map(_ => vocab(rng.nextInt(vocab.length)))
        .mkString(seps(rng.nextInt(seps.length)))
      (if (i % 5 == 0) "!" else "") + body + (if (i % 7 == 0) "," else "")
    } :+ "" :+ "SPARK Table spark" :+ "spark_table spark table" :+ "!leading"
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").cache()
    for (terms <- Seq(Seq("spark"), Seq("spark", "table"),
        Seq("spark", "table", "42"), Seq("spark", "spark", "table"),
        Seq("a.b", "spark"), Seq("", "spark"), Seq("_u", "x1"))) {
      def rows(c: org.apache.spark.sql.Column): Seq[Long] =
        df.filter(c).select($"id").as[Long].collect().toSeq.sorted
      assert(rows(GraftFunctions.terms_match($"text", terms, 1)) ==
        rows(refAny(terms)), s"ANY $terms")
      assert(rows(GraftFunctions.terms_match($"text", terms, terms.length)) ==
        rows(refAll(terms)), s"ALL $terms")
      for (k <- 1 to terms.length)
        assert(rows(GraftFunctions.terms_match($"text", terms, k)) ==
          rows(refQuorum(terms, k)), s"QUORUM($k) $terms")
    }
    // null text → null (filter-equivalent to the replaced shapes)
    val nulled = Seq[String](null).toDF("text")
      .select(GraftFunctions.terms_match($"text", Seq("a"), 1)).collect()
    assert(nulled(0).isNullAt(0))
    // generated code ≡ interpreted eval of the same expression
    val (gen, interp) = codegenAndInterpreted(df,
      GraftFunctions.terms_match($"text", Seq("spark", "table"), 2),
      GraftFunctions.terms_match($"text", Seq("spark", "", "x1"), 1))
    assert(gen == interp)
  }

  test("phrase_match equals the rlike formulation on fuzzed corpora") {
    // the replaced formulation (Grep.MatchPhrase before r6), rebuilt verbatim
    def refPhrase(terms: Seq[String]) = {
      val pat = terms.map(_.toLowerCase).map(java.util.regex.Pattern.quote)
        .mkString("\\b", "\\W+", "\\b")
      lower($"text").rlike(pat)
    }
    val vocab = Seq("spark", "table", "scan", "a", "ab", "TaBlE", "x1", "_u")
    val rng = new scala.util.Random(17)
    val seps = Seq(" ", ", ", "  --  ", "\t", "!", ".", "\n")
    val texts = (0 until 600).map { i =>
      val body = (0 until rng.nextInt(20))
        .map(_ => vocab(rng.nextInt(vocab.length)))
        .mkString(seps(rng.nextInt(seps.length)))
      (if (i % 5 == 0) "!" else "") + body + (if (i % 7 == 0) "," else "")
    } ++ Seq("", "spark table", "spark  ,  table", "sparky tables",
      "spark tablex", "xspark table", "spark_table", "spark\ntable",
      // KMP restart adversaries: partial match whose suffix restarts a match
      "a a b", "a a a b", "spark spark table", "a ab a a b",
      "table spark table", "spark table spark table")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").cache()
    def rows(c: org.apache.spark.sql.Column): Seq[Long] =
      df.filter(c).select($"id").as[Long].collect().toSeq.sorted
    for (terms <- Seq(Seq("spark"), Seq("spark", "table"),
        Seq("table", "spark"), Seq("a", "a", "b"), Seq("a", "b"),
        Seq("spark", "spark", "table"), Seq("a", "ab", "a"),
        Seq("SPARK", "Table"), Seq("_u", "x1"), Seq("a", "a", "a", "b")))
      assert(rows(GraftFunctions.phrase_match($"text", terms)) ==
        rows(refPhrase(terms)), s"PHRASE $terms")
    // non-pure terms stay on the rlike path in Grep (expression requires
    // pure tokens by construction)
    intercept[IllegalArgumentException] {
      graft.functions.PhraseMatch(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), Seq("a.b"))
    }
    // null text → null (filter-equivalent to lower(null).rlike)
    val nulled = Seq[String](null).toDF("text")
      .select(GraftFunctions.phrase_match($"text", Seq("a"))).collect()
    assert(nulled(0).isNullAt(0))
    // generated code ≡ interpreted eval of the same expression, for all
    // three byte-scan matches, over this corpus plus null and non-ASCII
    // text (Kelvin sign, dotted/dotless I, Cyrillic, combining marks)
    val edge = (texts ++ Seq(null, "spark table\u212A", "SPARK \u0130 table",
        "spark\u0131 table", "Привет spark, table мир", "spark\u0301 table"))
      .toDF("text").cache()
    val (gen, interp) = codegenAndInterpreted(edge,
      GraftFunctions.terms_match($"text", Seq("spark", "table"), 2),
      GraftFunctions.phrase_match($"text", Seq("spark", "table")),
      GraftFunctions.proximity_match($"text", Seq("spark", "table"), 2))
    assert(gen == interp)
    assert(gen.count(_.isNullAt(0)) == 1 && gen.exists(_.getBoolean(1)))
  }
}
