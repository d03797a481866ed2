package graft.functions

import graft.SparkSpec
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("wordShingles produces distinct n-grams, short texts degrade gracefully") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "a b c a b c")).toDF("id", "t")
    val out = df.select(col("id"), TextFunctions.wordShingles(col("t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq("a b")) // shorter than n: the whole text
    assert(out(3L).toSet == Set("a b c", "b c a", "c a b")) // distinct
  }

  test("langId picks profile with most stopword hits, 'und' when none") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht mit der katze und ich"),
      (3L, "xyzzy qwerty asdf")
    ).toDF("id", "t")
    val out = df.select(col("id"), TextFunctions.langId(col("t")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("fingerprint is stable under shingle order and distinct across content") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")
    ).toDF("id", "t")
    val out = df.select(col("id"), TextFunctions.fingerprint(col("t")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("simhash of identical text identical; small edits → small hamming") {
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "one two three four five six seven eight nine eleven")
    ).toDF("id", "t")
    val out = df.select(col("id"), TextFunctions.simhash64(col("t")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(java.lang.Long.bitCount(out(1L) ^ out(3L)) <= 16)
  }

  test("vector cosine: orthogonal → 0, identical → 1") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 2.0f), Array(1.0f, 2.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L)) < 1e-12)
    assert(math.abs(out(2L) - 1.0) < 1e-12)
  }

  test("SQL surface: word_shingles registered via SparkSessionExtensions") {
    val sh = spark
      .sql("SELECT word_shingles('a b c d', 3) AS sh")
      .collect()
      .head
      .getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("SQL surface: vec_cosine / vec_dot / squash_meta registered via SparkSessionExtensions") {
    Seq((1L, Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("id", "a", "b")
      .createOrReplaceTempView("v")
    val cos = spark.sql("SELECT vec_cosine(a, b) AS c, vec_dot(a, b) AS d FROM v").collect().head
    assert(math.abs(cos.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(cos.getDouble(1) - 5.0) < 1e-12)
    val m = spark
      .sql(
        """SELECT squash_meta(array(
             named_struct('table', 't1', 'pk', 'id', 'value', '2'),
             named_struct('table', 't1', 'pk', 'id', 'value', '1'),
             named_struct('table', 't1', 'pk', 'id', 'value', '2'))) AS m"""
      )
      .collect()
      .head
      .getAs[scala.collection.Map[String, scala.collection.Map[String, scala.collection.Seq[String]]]]("m")
    assert(m("t1")("id").toSeq == Seq("1", "2"))
    val vs = spark
      .sql("SELECT vec_sum(a) AS s FROM (SELECT a FROM v UNION ALL SELECT b FROM v)")
      .collect().head.getSeq[Double](0)
    assert(vs == Seq(2.0, 4.0))
  }

  test("SQL surface: vec_binarize / vec_hamming registered, literal args validated") {
    val r = spark
      .sql(
        """SELECT vec_hamming(vec_binarize(array(1.0, -2.0, 3.0), 3),
                              vec_binarize(array(1.0, 2.0, -3.0), 3), 1) AS h,
                  vec_binarize(array(-1.0, 2.0), 2) AS b"""
      )
      .collect()
      .head
    assert(r.getLong(0) == 2L) // signs differ at components 2 and 3
    assert(r.getSeq[Long](1) == Seq(2L)) // bit 1 set (component 2 >= 0)
    // the SQL mirror must agree with the Scala Column form bit-for-bit
    // (including the 2-word boundary), and both must compile: with the
    // interpreted fallback off, a plan outgrowing Janino's 64 KB limit fails
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try binarizeAgreement()
    finally spark.conf.unset("spark.sql.codegen.fallback")
    // non-literal dim fails with the documented contract, not an opaque eval error
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, Array(1.0f))).toDF("n", "a").createOrReplaceTempView("vb")
      spark.sql("SELECT vec_binarize(a, n) FROM vb").collect()
    }
    assert(err.getMessage.contains("dim must be a literal"))
  }

  private def binarizeAgreement(): Unit = {
    val cross = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(70)(j => math.sin(i * 7 + j * 3).toFloat))
    }.toDF("id", "v")
    cross.createOrReplaceTempView("vx")
    val scalaSide = cross
      .select(col("id"), VectorFunctions.binarize(col("v"), 70).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sqlSide = spark.sql("SELECT id, vec_binarize(v, 70) AS b FROM vx")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(scalaSide == sqlSide)
    val hamAgree = spark.sql(
      """SELECT a.id AS ia, b.id AS ib,
                vec_hamming(vec_binarize(a.v, 70), vec_binarize(b.v, 70), 2) AS h
         FROM vx a JOIN vx b ON a.id < b.id""")
    val scalaHam = cross.as("a").crossJoin(cross.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        VectorFunctions.hammingPacked(
          VectorFunctions.binarize(col("a.v"), 70),
          VectorFunctions.binarize(col("b.v"), 70), 2).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hamAgree.collect().forall(r => scalaHam((r.getLong(0), r.getLong(1))) == r.getLong(2)))
  }

  test("vec_binarize / vec_hamming raise on size mismatch instead of silent nulls") {
    // Column form: vector shorter than dim
    val shortVec = Seq((1L, Array(1.0f, -2.0f))).toDF("id", "v")
    val e1 = intercept[Exception] {
      shortVec.select(VectorFunctions.binarize(col("v"), 70)).collect()
    }
    assert(e1.getMessage.contains("vec_binarize"), e1.getMessage)
    // Column form: packed code with the wrong word count
    val e2 = intercept[Exception] {
      shortVec
        .select(
          VectorFunctions
            .hammingPacked(
              VectorFunctions.binarize(col("v"), 2),
              VectorFunctions.binarize(col("v"), 2),
              words = 2
            )
        )
        .collect()
    }
    assert(e2.getMessage.contains("vec_hamming"), e2.getMessage)
    // SQL mirrors enforce the same contract
    shortVec.createOrReplaceTempView("vshort")
    val e3 = intercept[Exception] {
      spark.sql("SELECT vec_binarize(v, 70) FROM vshort").collect()
    }
    assert(e3.getMessage.contains("vec_binarize"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark
        .sql("SELECT vec_hamming(vec_binarize(v, 2), vec_binarize(v, 2), 2) FROM vshort")
        .collect()
    }
    assert(e4.getMessage.contains("vec_hamming"), e4.getMessage)
    // valid sizes still work and agree across surfaces
    val ok = shortVec
      .select(
        VectorFunctions
          .hammingPacked(
            VectorFunctions.binarize(col("v"), 2),
            VectorFunctions.binarize(col("v"), 2),
            words = 1
          )
          .as("h")
      )
      .collect()
      .head
      .getLong(0)
    assert(ok === 0L)
  }

  test("BPE pre-tokenizer: contractions, leading spaces, digit/punct runs") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "I don't like it!"),
      (2L, "pi is 3.14159, roughly"),
      (3L, ""),
      (4L, "  double  spaces")
    ).toDF("id", "text")
    val out = df.select(col("id"), TF.bpeTokens(col("text")).as("t"), TF.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getInt(2)))).toMap
    assert(out(1L)._1 == Seq("I", " don", "'t", " like", " it", "!"))
    assert(out(2L)._1 == Seq("pi", " is", " 3", ".", "14159", ",", " roughly"))
    assert(out(3L)._1 == Nil)
    // second leading space of a run is its own punct-free gap: only one is absorbed
    assert(out(4L)._1 == Seq(" double", " spaces"))
    out.foreach { case (_, (toks, n)) => assert(toks.length == n) }
  }

  test("vectorSum aggregates element-wise with nulls and ragged lengths") {
    import graft.functions.{VectorFunctions => VF}
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(10.0f, 20.0f, 30.0f)),
      (1L, null.asInstanceOf[Array[Float]]),
      (1L, Array(0.5f)), // ragged: contributes to position 0 only
      (2L, Array(7.0f, 8.0f))
    ).toDF("g", "v")
    val out = df.groupBy(col("g")).agg(VF.vectorSum(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(11.5, 22.0, 33.0))
    assert(out(2L) == Seq(7.0, 8.0))
    // all-null group yields null
    val empty = Seq((3L, null.asInstanceOf[Array[Double]])).toDF("g", "v")
      .groupBy(col("g")).agg(VF.vectorSum(col("v")).as("s")).collect().head
    assert(empty.isNullAt(1))
  }

  test("centroid via vectorSum matches the posexplode formulation") {
    import graft.functions.{VectorFunctions => VF}
    val df = (0 until 40).map(i => ((i % 3).toLong, Array.tabulate(8)(j => (i * j % 11).toFloat)))
      .toDF("cell", "cv")
    val fast = df.groupBy(col("cell"))
      .agg(VF.vectorSum(col("cv")).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), transform(col("s"), x => x / col("n")).as("centroid"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val slow = df.select(col("cell"), posexplode(col("cv").cast("array<double>")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))), x => x("m")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((cell, c) <- slow)
      fast(cell).zip(c).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("hash sampling is deterministic, partition-independent, and nested") {
    import graft.functions.Sampling
    val df = (0L until 2000L).toDF("id")
    val a = Sampling.hashSample(df, col("id"), 0.3).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df.repartition(13), col("id"), 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(a == b) // membership independent of layout/run
    val n = a.size.toDouble / 2000
    assert(n > 0.25 && n < 0.35, s"fraction off: $n")
    // nested: a larger fraction strictly contains a smaller one
    val wider = Sampling.hashSample(df, col("id"), 0.6).collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider))
    assert(Sampling.hashSample(df, col("id"), 1.0).count() == 2000)
    assert(Sampling.hashSample(df, col("id"), 0.0).count() == 0)
  }

  test("stratified sample: per-stratum rates, nesting, default fraction") {
    import graft.functions.Sampling
    val df = spark.range(0, 6000).select(
      col("id"),
      element_at(typedlit(Seq("en", "zh", "de")), (pmod(col("id"), lit(3)) + 1).cast("int")).as("lang"))
    val out = Sampling.stratifiedSample(
      df, col("id"), col("lang"), Map("en" -> 0.5, "zh" -> 0.1), defaultFraction = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("de") == 2000) // default 1.0 keeps the whole stratum
    assert(math.abs(byLang("en") - 1000) < 150, s"en rate off: ${byLang("en")}")
    assert(math.abs(byLang("zh") - 200) < 80, s"zh rate off: ${byLang("zh")}")
    // monotone nesting per stratum: raising a rate only grows the kept set
    val wider = Sampling.stratifiedSample(
      df, col("id"), col("lang"), Map("en" -> 0.8, "zh" -> 0.1), defaultFraction = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.toSet.subsetOf(wider))
    // default 0.0 drops unlisted strata entirely
    assert(Sampling.stratifiedSample(df, col("id"), col("lang"), Map("en" -> 0.5))
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("temperatureMix: α=1 is proportional, α=0.5 upweights rare strata") {
    import graft.functions.Sampling
    // two strata, 1000 vs 3000 docs
    val df = spark.range(0, 4000).select(
      col("id"), when(col("id") < 1000, "rare").otherwise("big").as("s"))
    val prop = Sampling.temperatureMix(df, col("id"), col("s"), budget = 300, alpha = 1.0)
      .collect().map(_.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    // w = (1000, 3000), targets = 300*w/4000 = (75, 225)
    assert(prop == Map("rare" -> 75, "big" -> 225))
    val temp = Sampling.temperatureMix(df, col("id"), col("s"), budget = 300, alpha = 0.5)
      .collect().map(_.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    // w = (floor√1000, floor√3000) = (31, 54): targets = (300·31/85, 300·54/85)
    assert(temp == Map("rare" -> 109, "big" -> 190))
    assert(temp("rare") > prop("rare")) // the point of the temperature
  }

  test("temperatureMix: deterministic membership, capped strata, zero budget") {
    import graft.functions.Sampling
    val df = spark.range(0, 1010).select(
      col("id"), when(col("id") < 10, "tiny").otherwise("big").as("s"))
    val a = Sampling.temperatureMix(df, col("id"), col("s"), budget = 400)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMix(df.repartition(13), col("id"), col("s"), budget = 400)
      .collect().map(_.getLong(0)).toSet
    assert(a == b) // membership independent of physical layout
    // w = (3, 31); tiny's target = 400·3/34 = 35 > its 10 docs → fully kept
    val byS = Sampling.temperatureMix(df, col("id"), col("s"), budget = 400)
      .collect().map(_.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(byS("tiny") == 10)
    assert(byS("big") == 364) // 400·31/34
    assert(Sampling.temperatureMix(df, col("id"), col("s"), budget = 0).count() == 0)
  }

  test("quota keeps at most k rows per group in deterministic order") {
    import graft.functions.Sampling
    val df = Seq.tabulate(30)(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    val out = Sampling.quota(df, Seq(col("g")), Seq(col("id").desc), 4)
      .collect().map(r => r.getString(1) -> r.getLong(0)).groupBy(_._1)
    assert(out.keySet == Set("g0", "g1", "g2"))
    // top-4 ids descending per group
    assert(out("g0").map(_._2).sorted.toSeq == Seq(18L, 21L, 24L, 27L))
    assert(out.values.forall(_.length == 4))
  }

  test("quota two-phase == naive global window on skewed many-partition input") {
    import graft.functions.Sampling
    import org.apache.spark.sql.expressions.Window
    // heavily skewed: one group holds ~90% of rows; spread over 16 partitions
    val df = spark
      .range(0, 5000)
      .select(
        col("id"),
        when(pmod(col("id"), lit(10)) === 0, concat(lit("g"), pmod(col("id"), lit(7))))
          .otherwise(lit("hot")).as("g")
      )
      .repartition(16)
    val naive = df
      .withColumn("__rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("id"))))
      .filter(col("__rn") <= 25).drop("__rn")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val twoPhase = Sampling.quota(df, Seq(col("g")), Seq(col("id")), 25)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(twoPhase == naive)
    // k larger than some groups: every group row survives, none duplicated
    val all = Sampling.quota(df, Seq(col("g")), Seq(col("id")), 10000).count()
    assert(all == 5000)
    assert(Sampling.quota(df, Seq(col("g")), Seq(col("id")), 0).count() == 0)
  }

  test("quota property: two-phase == naive window over random keys/partitions/k") {
    import graft.functions.Sampling
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    val p0 = org.scalacheck.Gen.Parameters.default
    val cases = Gen.zip(Gen.chooseNum(1, 200), Gen.chooseNum(1, 9), Gen.chooseNum(1, 16), Gen.chooseNum(2, 40))
    (0 until 8).flatMap(i => cases(p0, org.scalacheck.rng.Seed(7L + i))).foreach {
      case (n, groups, parts, k) =>
        // ids are unique → total order → two-phase must be exactly the window
        val df = spark.range(0, n.toLong)
          .select(col("id"), pmod(col("id") * 2654435761L, lit(groups)).as("g"))
          .repartition(parts)
        val naive = df
          .withColumn("__rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("id"))))
          .filter(col("__rn") <= k).drop("__rn")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val two = Sampling.quota(df, Seq(col("g")), Seq(col("id")), k)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(two == naive, s"mismatch at n=$n groups=$groups parts=$parts k=$k")
    }
  }

  test("temperatureMix property: two-phase == naive per-stratum md5-rank prefix") {
    import graft.functions.Sampling
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    val p0 = org.scalacheck.Gen.Parameters.default
    val cases = Gen.zip(
      Gen.chooseNum(1, 300), Gen.chooseNum(1, 7), Gen.chooseNum(1, 16), Gen.chooseNum(1, 200))
    (0 until 6).flatMap(i => cases(p0, org.scalacheck.rng.Seed(11L + i))).foreach {
      case (n, strata, parts, budget) =>
        val df = spark.range(0, n.toLong)
          .select(col("id"), concat(lit("s"), pmod(col("id") * 2654435761L, lit(strata))).as("s"))
          .repartition(parts)
        // naive reference: targets from floor(sqrt(count)) weights, then an
        // exact global window in md5 order
        val counts = df.groupBy(col("s")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val w = counts.view.mapValues(c => math.floor(math.sqrt(c.toDouble)).toLong).toMap
        val sw = w.values.sum
        val targets = w.map { case (s, wi) => s -> budget * wi / sw }
        val ranked = df
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("s"))
              .orderBy(md5(col("id").cast("string").cast("binary")), col("id").cast("string"))))
          .collect()
          .filter(r => r.getAs[Int]("__rn") <= targets(r.getString(1)))
          .map(r => (r.getLong(0), r.getString(1))).toSet
        val two = Sampling.temperatureMix(df, col("id"), col("s"), budget)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(two == ranked, s"mismatch at n=$n strata=$strata parts=$parts budget=$budget")
    }
  }

  test("quota plan: the only exchange runs over phase-1 survivors, not the corpus") {
    import graft.functions.Sampling
    val df = spark.range(0, 1000)
      .select(col("id"), pmod(col("id"), lit(3)).as("g")).repartition(8)
    val plan = Sampling.quota(df, Seq(col("g")), Seq(col("id")), 5)
      .queryExecution.executedPlan.toString
    // exactly one exchange besides the input repartition: the phase-2 window's
    val windowExchanges =
      "Exchange hashpartitioning\\(__gk".r.findAllIn(plan).length
    assert(windowExchanges == 1, s"expected one window exchange:\n$plan")
    // and it must sit ABOVE the local mapPartitions pass (printed first =
    // downstream), so the full corpus is never shuffled on the group key
    val ex = plan.indexOf("Exchange hashpartitioning(__gk")
    val mp = plan.indexOf("MapPartitions")
    assert(ex >= 0 && mp >= 0 && ex < mp,
      s"window exchange must consume the local-quota output:\n$plan")
  }

  test("tokenBudget: greedy hash-order fill, last doc may straddle, budgets nest") {
    import graft.functions.Sampling
    val df = Seq.tabulate(40)(i => (i.toLong, s"s${i % 2}", 10L + i % 7))
      .toDF("id", "stratum", "toks")
    val out = Sampling.tokenBudget(
      df, col("id"), col("stratum"), col("toks"), Map("s0" -> 60L), defaultBudget = 45L)
    val kept = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // per stratum: the kept total can exceed the budget only by the straddle
    // of the final doc (prev < budget ⇒ total < budget + max kept doc), and
    // a stratum under budget would have kept everything
    val totalByStratum = Seq.tabulate(40)(i => (s"s${i % 2}", 10L + i % 7))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    kept.groupBy(_._2).foreach { case (s, rows) =>
      val budget = if (s == "s0") 60L else 45L
      val tot = rows.map(_._3).sum
      assert(tot < budget + rows.map(_._3).max, s"stratum $s total $tot vs budget $budget")
      assert(tot >= math.min(budget, totalByStratum(s)), s"stratum $s underfilled: $tot")
    }
    // monotonicity: doubling a budget keeps a superset
    val bigger = Sampling.tokenBudget(
      df, col("id"), col("stratum"), col("toks"), Map("s0" -> 120L), defaultBudget = 90L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kept.toSet.subsetOf(bigger))
    // zero budget → empty stratum; unlisted stratum uses default
    val zero = Sampling.tokenBudget(
      df, col("id"), col("stratum"), col("toks"), Map("s0" -> 0L), defaultBudget = 0L)
    assert(zero.count() == 0)
  }

  test("tokenBudget two-phase == naive global window on skewed many-partition input") {
    import graft.functions.Sampling
    import org.apache.spark.sql.expressions.Window
    val df = spark
      .range(0, 4000)
      .select(
        col("id"),
        when(pmod(col("id"), lit(10)) === 0, concat(lit("s"), pmod(col("id"), lit(5))))
          .otherwise(lit("hot")).as("stratum"),
        (pmod(col("id") * 2654435761L, lit(50)) + 1).as("toks")
      )
      .repartition(16)
    val naive = df
      .withColumn("__h", md5(col("id").cast("string").cast("binary")))
      .withColumn(
        "__prev",
        coalesce(
          sum(col("toks")).over(
            Window.partitionBy(col("stratum")).orderBy(col("__h"), col("id").cast("string"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .filter(col("__prev") < when(col("stratum") === "hot", 900L).otherwise(300L))
      .select("id", "stratum", "toks")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val two = Sampling.tokenBudget(
      df, col("id"), col("stratum"), col("toks"),
      Map("hot" -> 900L), defaultBudget = 300L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(two == naive)
  }

  test("tokenBudget plan: phase-2 window exchange consumes phase-1 survivors") {
    import graft.functions.Sampling
    val df = spark.range(0, 1000)
      .select(col("id"), pmod(col("id"), lit(3)).cast("string").as("s"), lit(5L).as("t"))
      .repartition(8)
    val plan = Sampling.tokenBudget(df, col("id"), col("s"), col("t"), Map("0" -> 100L), 50L)
      .queryExecution.executedPlan.toString
    val ex = plan.indexOf("Exchange hashpartitioning(__s")
    val mp = plan.indexOf("MapPartitions")
    assert(ex >= 0 && mp >= 0 && ex < mp,
      s"window exchange must sit above the local budget pass:\n$plan")
  }

  test("term stats: top-k by tf with lexicographic ties, df counts documents not occurrences") {
    import graft.functions.TermStats
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana banana apple"),
      (3L, "cherry")
    ).toDF("doc_id", "text")
    val out = TermStats.topTerms(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).toSet == Set((1L, "apple", 2L, 2L), (1L, "banana", 1L, 2L)))
    assert(byDoc(2L).toSet == Set((2L, "banana", 3L, 2L), (2L, "apple", 1L, 2L)))
    assert(byDoc(3L).toSet == Set((3L, "cherry", 1L, 2L)))
  }

  test("PII redaction: emails, IPs, phones, card-like runs; counts without double-counting") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "mail me at jane.doe+x@example.co.uk or call 555-123-4567"),
      (2L, "server 10.0.255.7 logged card 4111111111111111 twice: 4111111111111111"),
      (3L, "clean text, no identifiers here")
    ).toDF("id", "text")
    val out = df.select(col("id"), TF.redactPii(col("text")).as("r"), TF.piiCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L)._1 == "mail me at <EMAIL> or call <PHONE>")
    assert(out(1L)._2 == 2)
    assert(out(2L)._1 == "server <IP> logged card <CARD> twice: <CARD>")
    assert(out(2L)._2 == 3)
    assert(out(3L) == (("clean text, no identifiers here", 0)))
  }

  test("repetition signals: duplicate words and dominant bigram share") {
    import graft.functions.TermStats
    val docs = Seq(
      (1L, "spam spam spam spam"),             // all same word/bigram
      (2L, "all words here are unique okay"),  // no repetition
      (3L, "one")                              // <2 tokens: dropped
    ).toDF("doc_id", "text")
    val out = TermStats.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((750L, 1000L))) // 3 of 4 words duplicate; one bigram holds all 3 slots
    assert(out(2L) == ((0L, 200L)))    // 6 unique words; 5 distinct bigrams, top holds 1/5
    assert(!out.contains(3L))
  }

  test("multimodal → embedding → ANN composition runs end-to-end") {
    val docs = (0L until 30L).map(i => (i, s"content item $i ${"x" * (i % 7).toInt}"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs, "doc_id", "text")
    val emb = Multimodal.embedStub(media, dim = 16)
    // identical content → identical embedding (deterministic stub)
    val dup = Multimodal.embedStub(media, dim = 16)
    assert(emb.collect().map(_.toString).sorted.sameElements(dup.collect().map(_.toString).sorted))
    val topk = graft.ann.Ann.bruteForceTopK(
      emb, emb.filter(col("id") < 2), "id", "embedding", "id", "embedding", 3)
    assert(topk.count() == 6) // 2 queries × top-3
  }

  test("perplexityBuckets: per-language value tertiles, head = most natural third") {
    // lang A: 9 docs in three clear surprisal strata (repetitive common
    // words score LOW = head; rare-token docs score HIGH = tail)
    val docs = (
      (1 to 3).map(i => (i.toLong, "the the the the the the", "aa")) ++
        (4 to 6).map(i => (i.toLong, "the cat sat on a mat", "aa")) ++
        (7 to 9).map(i => (i.toLong, s"zyx$i qwv$i mmop$i strange$i", "aa")) ++
        Seq((10L, "uno dos tres", "bb"), (11L, "uno uno uno", "bb"), (12L, "cuatro cinco seis siete", "bb"))
    ).toDF("doc_id", "text", "lang")
    val out = LanguageModel.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    assert(out.size == 12)
    // strata land in order: repeated-stopword docs head, rare-token docs tail
    assert((1L to 3L).forall(out(_)._3 == "head"))
    assert((7L to 9L).forall(out(_)._3 == "tail"))
    // thresholds are PER LANGUAGE: bb's 3 docs split into three buckets of
    // their own, independent of aa's score range
    assert(Set("head", "middle", "tail").subsetOf((10L to 12L).map(out(_)._3).toSet))
    // buckets are value-deterministic: equal scores share a bucket
    val byScore = out.values.groupBy(v => (v._1, v._2)).values
    assert(byScore.forall(_.map(_._3).toSet.size == 1))
  }

  test("DSIR: target-like docs outweigh off-target docs; resample is deterministic and bounded") {
    val target = (1 to 10).map(i => (i.toLong, "the quick brown fox jumps over lazy dogs", "en"))
    val offTgt = (11 to 20).map(i => (i.toLong, "der schnelle braune fuchs springt darüber", "de"))
    // two held-out candidates: one speaks the target vocabulary, one does not
    val docs = (target ++ offTgt ++ Seq(
      (21L, "quick brown fox jumps high", "xx"),
      (22L, "schnelle braune fuchs springt hoch", "xx")
    )).toDF("doc_id", "text", "lang")
    val w = Dsir.importanceWeights(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.size == 22)
    assert(w(21L) > w(22L), s"target-vocabulary doc must outweigh off-target: ${w(21L)} vs ${w(22L)}")
    // resampling: deterministic across runs, exactly k rows, ranks 1..k,
    // scores non-increasing
    val r1 = Dsir.resample(docs, "doc_id", "text", col("lang") === "en", k = 5).collect()
    val r2 = Dsir.resample(docs, "doc_id", "text", col("lang") === "en", k = 5).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    assert(r1.length == 5)
    assert(r1.map(_.getLong(3)).toSeq == (1L to 5L))
    val scores = r1.map(_.getLong(2)).toSeq
    assert(scores == scores.sorted.reverse)
    // empty/null text weighs 0, never crashes
    val degen = Seq((1L, null.asInstanceOf[String], "en"), (2L, "", "de")).toDF("doc_id", "text", "lang")
    val dw = Dsir.importanceWeights(degen, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dw(1L) == 0L)
  }

  test("multimodal stub pipeline: per-partition decoder, deterministic features") {
    val docs = Seq((0L, "abcd"), (1L, ""), (2L, "x" * 1000)).toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs, "doc_id", "text")
    assert(media.schema("content").dataType.typeName == "binary")
    val out = Multimodal.extractFeatures(media).collect().map(f => f.id -> f).toMap
    assert(out(0L).kind == "image" && out(1L).kind == "audio" && out(2L).kind == "video")
    assert(out(0L).n_bytes == 4 && out(0L).checksum == "abcd".map(_.toLong).sum)
    assert(out(1L).n_bytes == 0 && out(1L).frames == Seq(0L, 0L, 0L, 0L))
    assert(out(2L).width == 1000 % 640 && out(2L).height == 1000 % 480)
    assert(out(2L).frames == Seq(0L, 250L, 500L, 750L))
  }

  test("rrfFuse: exact nano contributions, cross-run consensus wins, k-bounded") {
    val runA = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val runB = Seq((20L, 1L), (40L, 2L), (10L, 3L)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(runA, runB), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def c(rank: Long): Long = math.round(1e9 / (60.0 + rank))
    val expected = Map(
      10L -> (c(1) + c(3)), // in both runs
      20L -> (c(2) + c(1)),
      30L -> c(3), // single-run docs score one contribution only
      40L -> c(2)
    )
    assert(out.map(r => r._1 -> r._2).toMap == expected)
    // consensus docs (both runs) outrank single-run docs; rank follows
    // score desc with id tie-break
    val ranked = out.sortBy(_._3).map(_._1)
    assert(ranked.take(2).toSet == Set(10L, 20L))
    assert(ranked.toSeq == out.sortBy(r => (-r._2, r._1)).map(_._1).toSeq)
    // k bounds the output
    assert(Retrieval.rrfFuse(Seq(runA, runB), k = 2).count() == 2)
  }

  test("bigramSurprisal: scrambled word order scores worse where unigram is blind") {
    // doc 2 is doc 1's exact word MULTISET shuffled: identical unigram
    // profile (unigram surprisal cannot distinguish them), broken bigrams
    val natural = "the cat sat on the mat and the dog sat on the rug"
    val salad = "mat the on dog sat the rug cat and on the sat the"
    val docs = Seq(
      (1L, natural),
      (2L, salad),
      (3L, "the cat sat on the mat"),
      (4L, "the dog sat on the rug")
    ).toDF("doc_id", "text")
    val big = LanguageModel.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(big(2L) > big(1L), s"word salad must score worse: $big")
    val uni = LanguageModel.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(uni(1L) == uni(2L), "same word multiset must tie under unigram")
  }

  test("rrfFuseByQuery: per-query fusion equals rrfFuse run per query") {
    val runA = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 30L, 1L)).toDF("qid", "id", "rank")
    val runB = Seq((1L, 20L, 1L), (2L, 30L, 2L), (2L, 40L, 1L)).toDF("qid", "id", "rank")
    val batch = Retrieval.rrfFuseByQuery(Seq(runA, runB), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val perQuery = Seq(1L, 2L).flatMap { q =>
      Retrieval.rrfFuse(
        Seq(runA.filter(col("qid") === q).drop("qid"), runB.filter(col("qid") === q).drop("qid")),
        k = 10
      ).collect().map(r => (q, r.getLong(0), r.getLong(1), r.getLong(2)))
    }.toSet
    assert(batch == perQuery)
  }

  test("containmentBloom matches the exact broadcast-set containment") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "the embedded probe text sits inside this much longer page of filler words"),
      (3L, "completely unrelated content with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "embedded probe text sits inside")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = graft.dedup.Dedup.containment(
      corpus, "doc_id", "text", probes, "doc_id", "text", threshold = 0.5)
    val bloom = graft.dedup.Dedup.containmentBloom(
      corpus, "doc_id", "text", probes, "doc_id", "text", threshold = 0.5)
    assert(rows(bloom) == rows(exact))
    assert(rows(bloom).nonEmpty, "the embedded probe must be detected")
    // even a deliberately tiny, collision-heavy filter stays exact: false
    // positives only admit extra postings that the exact join then drops
    val tiny = graft.dedup.Dedup.containmentBloom(
      corpus, "doc_id", "text", probes, "doc_id", "text", threshold = 0.5,
      expectedShingles = 4L, fpp = 0.5)
    assert(rows(tiny) == rows(exact))
  }
}
