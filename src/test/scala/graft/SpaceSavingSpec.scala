package graft

import graft.functions.SpaceSavingAgg
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SpaceSaving heavy-hitters sketch: exact in the no-eviction regime
  * (the oracle-gate contract), ε-bounded under eviction, and
  * partition-count invariant whenever nothing evicts — the properties
  * that make it the scale path for top-k frequency questions where an
  * exact groupBy would shuffle the whole key space.
  */
class SpaceSavingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  // deterministic skewed stream: key k_i appears (i+1)·7 times
  private def corpus(nKeys: Int): Seq[String] =
    (0 until nKeys).flatMap(i => Seq.fill((i + 1) * 7)(f"k$i%03d"))

  test("no-eviction regime: sketch equals exact groupBy counts, err 0") {
    val sess = spark
    import sess.implicits._
    val df = corpus(12).toDF("key")
    val got = df.agg(SpaceSavingAgg.column(col("key"), 64, 5).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.key", "e.count", "e.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = (0 until 12).map(i => (f"k$i%03d", (i + 1) * 7L))
      .sortBy { case (k, c) => (-c, k) }.take(5)
    assert(got.map(x => (x._1, x._2)).toSeq == want)
    assert(got.forall(_._3 == 0L), "no eviction → zero error")
  }

  test("no-eviction results are partition-count invariant") {
    val sess = spark
    import sess.implicits._
    val data = corpus(10)
    val one = data.toDF("key").repartition(1)
      .agg(SpaceSavingAgg.column(col("key"), 64, 10)).collect()(0).getSeq[Any](0)
    val seven = data.toDF("key").repartition(7)
      .agg(SpaceSavingAgg.column(col("key"), 64, 10)).collect()(0).getSeq[Any](0)
    assert(one == seven)
  }

  test("eviction regime: invariant count−err ≤ true ≤ count; hot key present") {
    val sess = spark
    import sess.implicits._
    // 40 'hot' + 60 spread over 20 cold keys; capacity 4 ⇒ n/m = 25,
    // so 'hot' (40 > 25) MUST be present per the SpaceSaving guarantee
    val data = Seq.fill(40)("hot") ++
      (0 until 60).map(i => s"cold${i % 20}")
    val got = data.toDF("key").repartition(1) // single partition: classic bound
      .agg(SpaceSavingAgg.column(col("key"), 4, 4).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.key", "e.count", "e.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val trueCounts = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val hot = got.find(_._1 == "hot")
    assert(hot.isDefined, "a key with frequency > n/m must be in the sketch")
    got.foreach { case (k, c, e) =>
      val t = trueCounts.getOrElse(k, 0L)
      assert(c >= t, s"$k: count $c must over-estimate true $t")
      assert(c - e <= t, s"$k: count−err ${c - e} must lower-bound true $t")
    }
    assert(got.length <= 4)
  }

  test("a key trimmed in one merge and re-appearing from another keeps the bracket") {
    // the mergeable-summaries floor: a key dropped by an overflow trim may
    // re-enter from a later partial — its count/err must absorb the floor
    // so true ∈ [count−err, count] still holds (re-entering from zero
    // UNDERestimates and silently breaks the bracket)
    val agg = new graft.functions.SpaceSavingAgg(2, 2)
    def partial(items: (String, Int)*): graft.functions.SsBuffer =
      items.foldLeft(agg.zero) { case (b, (k, n)) =>
        (1 to n).foldLeft(b)((bb, _) => agg.reduce(bb, k))
      }
    val p1 = partial("K" -> 5, "A" -> 9)
    val p2 = partial("B" -> 10, "C" -> 8)
    val m = agg.merge(p1, p2) // overflow trim: K and C drop, floor rises
    assert(m.floor >= 8, s"trim must raise the floor, got ${m.floor}")
    val p3 = partial("K" -> 10, "D" -> 1)
    val out = agg.merge(m, p3)
    val trueCounts = Map("K" -> 15L, "A" -> 9L, "B" -> 10L, "C" -> 8L, "D" -> 1L)
    out.m.foreach { case (k, (c, e)) =>
      val t = trueCounts(k)
      assert(c >= t, s"$k: count $c must over-estimate true $t")
      assert(c - e <= t, s"$k: count−err ${c - e} must lower-bound true $t")
    }
    // absent keys are bounded by the sketch floor
    trueCounts.foreach { case (k, t) =>
      if (!out.m.contains(k)) assert(t <= out.floor,
        s"absent $k true $t exceeds floor ${out.floor}")
    }
  }

  test("merge trims to capacity while keeping the heaviest entries") {
    val sess = spark
    import sess.implicits._
    // two partitions with disjoint key sets, each below capacity, whose
    // union overflows it: the merged sketch keeps the global top counts
    val data = (0 until 8).flatMap(i => Seq.fill((i + 1) * 3)(s"a$i")) ++
      (0 until 8).flatMap(i => Seq.fill((i + 1) * 3 + 1)(s"b$i"))
    val got = data.toDF("key").repartition(2, col("key"))
      .agg(SpaceSavingAgg.column(col("key"), 10, 10).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.key", "e.count")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 10)
    // the four heaviest keys survive any merge order
    val heavy = Set("a7", "b7", "a6", "b6")
    assert(heavy.subsetOf(got.map(_._1).toSet))
  }
}
