package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Builtins
import graft.operators.{Dedup, Similarity}

/** Expression-level laws (SURVEY.md §5.3, beyond the reference's test
  * style): null propagation, coercion round-trips, sketch/estimate
  * properties. Driven through the SQL surface so the registry path is
  * what's tested. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val init = { Builtins.registerAll(spark); () }

  /** Run a ScalaCheck property deterministically (seeded) and assert. */
  private def check(prop: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }

  private def sql1(expr: String): Any = {
    init
    spark.sql(s"SELECT $expr AS v").head().get(0)
  }

  test("dialect rewrite is identity on SQL without $vars/DISTINCT ON/QUALIFY") {
    // fuzz the scanners: arbitrary quote/comment/paren soup must pass
    // through untouched when none of the rewrite triggers is present
    val frag = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.const("'it''s (a) -- str'"),
      Gen.const("\"d\\\"q ) str\""),
      Gen.const("`back$tick`"),
      Gen.const("-- line $comment\n"),
      Gen.const("/* block (( */"),
      Gen.const("(nested(parens))"),
      Gen.const("distinct_on_col"),
      Gen.const("qualify_rate"),
      // literals whose upper-case form is longer ('ß' -> "SS") or
      // locale-sensitive, and mixed-case keywords
      Gen.const("'straße'"),
      Gen.const("'İ'"),
      Gen.oneOf("fRoM", "Order bY", "LiMiT", "wHeRe", "Union", "Select"))
    val gen = Gen.listOfN(6, frag).map(fs => "SELECT " + fs.mkString(" "))
    check(Prop.forAll(gen) { (sql: String) =>
      graft.engine.Dialect.rewrite(sql) == sql
    })
  }

  test("dialect rewrite gives the same output under every default locale") {
    // tr-TR upper-cases 'i' to 'İ': keyword matching must not notice
    def outcome(sql: String, locale: java.util.Locale): String = {
      val saved = java.util.Locale.getDefault
      java.util.Locale.setDefault(locale)
      try graft.engine.Dialect.rewrite(sql)
      catch { case e: IllegalArgumentException => "refused: " + e.getMessage }
      finally java.util.Locale.setDefault(saved)
    }
    val gen = for {
      head <- Gen.oneOf("select distinct on (k) k, v", "Select Distinct On (k) k",
        "select k, row_number() over (order by v) as rn", "select k, $lim")
      mid <- Gen.listOfN(2, Gen.oneOf("'straße'", "'İ'", "/* qualify */", "_i", "$min_i"))
      tail <- Gen.oneOf("from t", "from t qualify rn = 1", "from t order by k limit 3",
        "from t where x = 'ı' qualify rn = 1 order by k", "from t union all select k from u")
    } yield s"$head, ${mid.mkString(", ")} $tail"
    val tr = java.util.Locale.forLanguageTag("tr-TR")
    check(Prop.forAll(gen) { (sql: String) =>
      outcome(sql, tr) == outcome(sql, java.util.Locale.ROOT)
    })
  }

  test("to_number round-trips every double through to_string") {
    check(Prop.forAll(Gen.chooseNum(-1e9, 1e9)) { (d: Double) =>
      sql1(s"to_number(to_string(CAST($d AS DOUBLE)))") == d
    })
  }

  test("exo_substr matches Scala slicing semantics on arbitrary input") {
    val gen = for {
      s <- Gen.alphaNumStr.map(_.take(12))
      start <- Gen.chooseNum(-15, 15)
      len <- Gen.chooseNum(0, 15)
    } yield (s, start, len)
    check(Prop.forAll(gen) { case (s, start, len) =>
      val got = sql1(s"exo_substr('$s', $start, $len)").asInstanceOf[String]
      val n = s.length
      val begin0 = if (start > 0) start - 1 else if (start == 0) 0 else n + start
      val expected =
        if (len <= 0 || begin0 >= n) ""
        else {
          val b = math.max(begin0, 0)
          val effLen = if (begin0 < 0) len + begin0 else len
          if (effLen <= 0) "" else s.slice(b, math.min(b + effLen, n))
        }
      got == expected
    })
  }

  test("null propagates through every registered builtin") {
    val exprs = Seq(
      "strftime(CAST(NULL AS TIMESTAMP), '%Y')",
      "to_datetime(CAST(NULL AS BIGINT))",
      "exo_to_timestamp(CAST(NULL AS TIMESTAMP))",
      "exo_substr(CAST(NULL AS STRING), 1)",
      "jp(CAST(NULL AS STRING), 'k')",
      "regex_named(CAST(NULL AS STRING), 'x')",
      "urlparse(CAST(NULL AS STRING))",
      "to_number(CAST(NULL AS STRING))",
      "exo_trunc(CAST(NULL AS DOUBLE))")
    exprs.foreach(e => assert(sql1(e) == null, s"$e must be NULL"))
  }

  test("strftime %-verbs agree with java.time on random timestamps") {
    check(Prop.forAll(Gen.chooseNum(0L, 4102444800L)) { (epoch: Long) =>
      val got = sql1(s"strftime(to_datetime($epoch), '%Y-%m-%dT%H:%M:%S')")
      val expected = java.time.Instant.ofEpochSecond(epoch)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      got == expected
    })
  }

  test("minhash band collision implies high estimated similarity direction") {
    // identical texts always collide on every band; disjoint ones never do
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("custom CosineSim expression is bit-identical to composed form") {
    import spark.implicits._
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = emb.crossJoin(q).select(
      Similarity.cosine($"embedding", $"qv").as("custom"),
      Similarity.cosineComposed($"embedding", $"qv").as("composed")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine similarity bounds and self-similarity") {
    import spark.implicits._
    val gen = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0)).suchThat(_.exists(_ != 0.0))
    check(Prop.forAll(gen, gen) { (a: List[Double], b: List[Double]) =>
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        Similarity.cosine(col("a"), col("b")).as("ab"),
        Similarity.cosine(col("a"), col("a")).as("aa")).head()
      math.abs(r.getDouble(1) - 1.0) < 1e-9 &&
        r.getDouble(0) <= 1.0 + 1e-9 && r.getDouble(0) >= -1.0 - 1e-9
    }, n = 15)
  }

  test("simhash is token-order invariant (it's a vote, not a sequence)") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    def sh(toks: Seq[String]): Long = {
      val df = Seq(Tuple1(toks)).toDF("t")
      df.select(GraftBridge.column(graft.functions.SimHashN(
        GraftBridge.expression(col("t")), 60)).as("h")).head().getLong(0)
    }
    check(Prop.forAll(Gen.listOfN(6, Gen.alphaStr.map(_.take(5)))) { toks =>
      sh(toks) == sh(toks.reverse)
    }, n = 10)
  }

  test("hash-gated samples are nested: rate r1 <= r2 implies sample(r1) ⊆ sample(r2)") {
    import spark.implicits._
    import graft.operators.Sampling
    // the property train/val/test splits rely on: raising the rate only
    // ADDS rows (hash < r1 < r2), it never swaps membership
    val d = Tables.load(spark, TestSpark.sf, "documents").select($"doc_id", $"text")
    val small = Sampling.bernoulli(d, $"text", 500)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val big = Sampling.bernoulli(d, $"text", 4000)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(small.nonEmpty && small.subsetOf(big))
    // boundary rates
    assert(Sampling.bernoulli(d, $"text", 0).count() == 0)
    assert(Sampling.bernoulli(d, $"text", 10000).count() == d.count())
  }

  test("kmeans iteration preserves the corpus mean (weighted centroid mean = global mean)") {
    import spark.implicits._
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val out = Similarity.kmeansIterate(emb, "vec_id", "embedding", nCells = 4).collect()
    val n = emb.count()
    // per position: Σ_cells c_val·n_cell / N must equal the global mean
    // (the partition of the corpus into cells can't move its centroid)
    val global = emb.select(posexplode($"embedding").as(Seq("pos", "e")))
      .groupBy($"pos").agg(avg($"e".cast("double")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    out.groupBy(_.getAs[Int]("pos")).foreach { case (pos, rows) =>
      val weighted = rows.map(r => r.getAs[Double]("c_val") * r.getAs[Long]("n")).sum / n
      assert(math.abs(weighted - global(pos)) < 1e-5,
        s"pos $pos: weighted centroid mean $weighted != global ${global(pos)}")
    }
  }

  test("bucket cap law: capped pairs are a subset of uncapped; cap=∞ is identity") {
    import spark.implicits._
    // random small corpora with planted duplicate groups of random size
    val gen = for {
      nGroups <- Gen.chooseNum(1, 4)
      sizes <- Gen.listOfN(nGroups, Gen.chooseNum(1, 8))
    } yield sizes
    check(Prop.forAll(gen) { sizes =>
      val rows = sizes.zipWithIndex.flatMap { case (sz, g) =>
        (0 until sz).map(i => ((g * 100 + i).toLong,
          s"t$g a$g b$g c$g d$g e$g f$g"))
      }
      val df = rows.toDF("doc_id", "text")
      def pairs(cap: Option[Int]) =
        Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5,
            maxBucketSize = cap)
          .select($"id_a", $"id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val un = pairs(None)
      val capped = pairs(Some(4))
      capped.subsetOf(un) && pairs(Some(1000)) == un
    }, n = 8)
  }

  test("autoPlanes is monotone in corpus size and respects the occupancy bound") {
    check(Prop.forAll(Gen.chooseNum(1L, 1L << 40), Gen.chooseNum(1L, 1L << 40)) {
      (a: Long, b: Long) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        Similarity.autoPlanes(lo) <= Similarity.autoPlanes(hi) &&
          hi / math.pow(2.0, Similarity.autoPlanes(hi)) <= 1024.0
    }, n = 50)
  }
}
