package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contracts of the Bloom semi-join reduction ([[Bloom]]):
  *  1. ZERO false negatives — a dropped joining fact row is a silently
  *     wrong query result, the one failure mode a runtime filter may
  *     never have;
  *  2. bounded false positives at the documented sizing (10 bits/key,
  *     k=7 → ~0.8%) — the filter's entire value is shuffle reduction;
  *  3. the build is genuinely distributed — partial bitsets OR-merge to
  *     the same filter whatever the partitioning;
  *  4. end-to-end: the q73 query equals the plain unfiltered join.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val n = 5000
  private val keys = (0 until n).map(i => i.toLong * 2654435761L % 1000003L)

  private def bloomOver(parts: Int): Seq[Long] = {
    val agg = udaf(new Bloom.Agg(Bloom.sizeWords(n)))
    keys.toDF("k").repartition(parts)
      .agg(agg(col("k")).as("bf"))
      .select(col("bf.bits")).as[Seq[Long]].head()
  }

  test("no false negatives: every inserted key probes true") {
    val bits = bloomOver(8)
    val hits = keys.toDF("k")
      .crossJoin(broadcast(Seq(bits).toDF("bits")))
      .filter(Bloom.mightContainCol(col("bits"), col("k")))
      .count()
    assert(hits === n.toLong,
      s"${n - hits} inserted keys probed FALSE — silent wrong results")
  }

  test("false-positive rate at 10 bits/key stays ~1%") {
    val bits = bloomOver(8)
    val probes = 20000
    // disjoint from the inserted keys by construction (odd vs even space
    // under the same multiplier would collide; offset far past 1000003)
    val nonKeys = (0 until probes).map(i => 2000003L + i.toLong)
    val fp = nonKeys.toDF("k")
      .crossJoin(broadcast(Seq(bits).toDF("bits")))
      .filter(Bloom.mightContainCol(col("bits"), col("k")))
      .count()
    // expected ~0.8% of 20000 = ~160; 3% = 600 is a loose 4-sigma bound
    assert(fp < probes * 3 / 100,
      s"$fp/$probes false positives — sizing law broken")
  }

  test("merge is partition-independent: 1-partition and 16-partition " +
       "builds produce the identical bitset") {
    assert(bloomOver(1) === bloomOver(16))
  }

  test("the probe compiles into whole-stage codegen (no interpreted " +
       "fallback)") {
    // the probe's value proposition is running once per fact row INSIDE
    // WSCG; janino failing to compile the generated call would silently
    // fall back to interpreted eval — same rows, hot path gone. Forcing
    // fallback OFF turns that silent regression into a test failure.
    val bits = bloomOver(2)
    // a range scan keeps the probe inside a WSCG subtree (the q73 shape
    // folds it into a BNLJ condition, which never codegens in this tiny
    // local harness — the per-row generated call is what's under test)
    val df = spark.range(0, n.toLong)
      .select(Bloom.mightContainCol(typedlit(bits), col("id")).as("p"))
      .filter(col("p"))
    // execute with fallback OFF: a janino compile failure throws here
    // instead of silently interpreting
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.count()
    finally spark.conf.set("spark.sql.codegen.fallback", prev)
    // WSCG nodes exist only in the POST-execution adaptive plan — unwrap
    // AQE before rendering the generated source
    val tree = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val gen = org.apache.spark.sql.execution.debug.codegenString(tree)
    assert(gen.contains("bloom_might_contain") ||
           gen.contains("Bloom.mightContain"),
      s"probe not inside a WholeStageCodegen subtree:\n${gen.take(1500)}")
  }

  test("a degenerate empty bitset probes false, never divides by zero") {
    val hit = Seq(7L).toDF("k")
      .crossJoin(broadcast(Seq(Seq.empty[Long]).toDF("bits")))
      .filter(Bloom.mightContainCol(col("bits"), col("k")))
      .count()
    assert(hit === 0L)
  }

  test("q73 equals the plain unfiltered join (false positives cleared)") {
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Relational.bloomFilteredJoin(spark, d)
      .collect().map(_.toSeq)
    val li = graft.Tables.lineitem(spark, d)
    val o = graft.Tables.orders(spark, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
             * 100.0 + lit(0.5)).cast("long")).as("revenue_cents"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
      .collect().map(_.toSeq)
    assert(got.toSeq === plain.toSeq)
  }

  test("build + probe + exact semi-join equals the exact semi-join on a " +
       "2-column hashed key, false positives forced") {
    // 3000 build pairs into a filter sized for ONE key (the 8192-bit
    // floor): saturated, so most non-joining probe pairs pass it
    val build = (0L until 3000L).map(i => (i, i * 7 % 101)).toDF("a", "b")
    val fact = (0L until 6000L).map(i => (i / 2, i % 101)).toDF("a", "b")
    val key = xxhash64(col("a"), col("b"))
    val probed = Bloom.probe(fact, Bloom.build(build, key, 1L), key)
      .select(col("a"), col("b"))
    def exact(df: org.apache.spark.sql.DataFrame) =
      df.join(build, Seq("a", "b"), "left_semi")
        .as[(Long, Long)].collect().sorted.toSeq
    val want = exact(fact)
    assert(want.nonEmpty)
    assert(probed.count() > want.size.toLong, "no false positive was forced")
    assert(exact(probed) === want)
  }
}
