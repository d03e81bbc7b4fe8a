package graft.stats

import graft.SparkSuite
import graft.functions.Kll
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The engine's quantile sketch (Spark's built-in KLL at [[Kll.K]]) against
  * the bounds its callers gate on, on adversarial inputs: a heavy tail, 90%
  * of the mass on one value, sorted and reverse-sorted arrival, and 1 to 32
  * partitions.
  *
  *  - v45 and st06 rely on a rank error ≤ 0.02. An estimate `e` for
  *    quantile `q` is off by the distance from `q` to the interval
  *    `[P(X < e), P(X ≤ e)]`, so an atom carrying much of the mass is
  *    judged fairly.
  *  - v47 relies on |sketched − exact| ≤ 0.01 for PSI, KL and JS.
  *
  * KLL compaction is randomized, so every case is repeated [[Reps]] times
  * and the bound is asserted on the worst repetition.
  */
class KllSketchSpec extends SparkSuite {
  import spark.implicits._

  private val Reps = 20
  private val qs = Seq(0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)
  private val orders = Seq("random", "sorted", "reverse")
  private val partitionings = Seq(1, 4, 32)

  /** Pareto(α = 1.1): infinite variance, a tail reaching ~1e5 at n = 1e5. */
  private def heavyTail(n: Int, seed: Long): Array[Double] = {
    val r = new java.util.Random(seed)
    Array.fill(n)(1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.1))
  }

  /** `share` of the mass exactly on `atom`, the rest uniform on [0, hi). */
  private def spike(n: Int, seed: Long, atom: Double, share: Double, hi: Double): Array[Double] = {
    val r = new java.util.Random(seed)
    Array.fill(n)(if (r.nextDouble() < share) atom else r.nextDouble() * hi)
  }

  private def arrive(a: Array[Double], order: String): Array[Double] = order match {
    case "random" => a
    case "sorted" => a.sorted
    case "reverse" => a.sorted.reverse
  }

  /** `a` in arrival order, split into `parts` contiguous partitions. */
  private def frame(a: Array[Double], parts: Int): DataFrame =
    spark.sparkContext.parallelize(a.toSeq, parts).toDF("v")

  /** Distance from `q` to the rank interval of `e` in `sorted`. */
  private def rankErr(sorted: Array[Double], q: Double, e: Double): Double = {
    def count(lt: Double => Boolean): Int = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (lt(sorted(m))) lo = m + 1 else hi = m }
      lo
    }
    val n = sorted.length.toDouble
    val below = count(_ < e) / n
    val atOrBelow = count(_ <= e) / n
    if (q < below) below - q else if (q > atOrBelow) q - atOrBelow else 0.0
  }

  /** Worst rank error over qs and [[Reps]] independent sketches of `a`, for
    * every arrival order and partitioning. One job per (order, partitioning):
    * each row is fed to all repetitions' sketches in arrival order. */
  private def worstRankError(a: Array[Double]): Double = {
    val sorted = a.sorted
    val reps = broadcast(spark.range(Reps).toDF("rep"))
    (for (order <- orders; parts <- partitionings) yield {
      frame(arrive(a, order), parts).crossJoin(reps)
        .groupBy("rep").agg(Kll.sketch(col("v")).as("s"))
        .select(qs.map(q => Kll.quantile(col("s"), q)): _*)
        .collect()
        .flatMap(r => qs.indices.map(i => rankErr(sorted, qs(i), r.getDouble(i))))
        .max
    }).max
  }

  test("heavy tail: worst rank error <= 0.02 over 20 reps") {
    val w = worstRankError(heavyTail(100000, 1))
    info(f"worst rank error $w%.5f")
    assert(w <= 0.02)
  }

  test("90% of mass on one value: worst rank error <= 0.02") {
    val w = worstRankError(spike(100000, 2, 42.0, 0.9, 1000.0))
    info(f"worst rank error $w%.5f")
    assert(w <= 0.02)
  }

  /** Worst |sketched − exact| over PSI, KL and JS across [[Reps]] runs; run
    * `r` uses arrival order `r % 3` and partitioning `(r / 3) % 3`. */
  private def worstDriftGap(ref: Array[Double], cur: Array[Double],
      lo: Double, hi: Double, bins: Int): Double = {
    def hist(a: Array[Double]) = Drift.histogram(frame(a, 4), "v", lo, hi, bins)
    val Row(psi: Double, kl: Double, js: Double) =
      Drift.psi(hist(ref), hist(cur))
        .crossJoin(Drift.kl(hist(ref), hist(cur)))
        .crossJoin(Drift.js(hist(ref), hist(cur))).head()
    (0 until Reps).map { r =>
      val order = orders(r % 3)
      val parts = partitionings((r / 3) % 3)
      val rd = frame(arrive(ref, order), parts)
      val cd = frame(arrive(cur, order), parts)
      val Row(psiSk: Double, klSk: Double, jsSk: Double) =
        Drift.psiSketched(rd, cd, "v", lo, hi, bins)
          .crossJoin(Drift.klSketched(rd, cd, "v", lo, hi, bins))
          .crossJoin(Drift.jsSketched(rd, cd, "v", lo, hi, bins)).head()
      Seq(psiSk - psi, klSk - kl, jsSk - js).map(math.abs).max
    }.max
  }

  test("drift on a heavy tail: PSI/KL/JS within 0.01 of exact") {
    val w = worstDriftGap(heavyTail(60000, 3), heavyTail(40000, 4).map(_ * 1.3), 1.0, 30.0, 20)
    info(f"worst PSI/KL/JS gap $w%.6f")
    assert(w <= 0.01)
  }

  test("drift with a spike on a bin edge: PSI/KL/JS within 0.01") {
    // the atom sits exactly on the edge between bins 6 and 7 (width 60):
    // the histogram puts it in bin 7, and so must the sketched masses. The
    // reference's other values all lie below the atom, so counting it in
    // bin 6 instead would move the PSI by ~0.09
    val w = worstDriftGap(spike(60000, 5, 420.0, 0.9, 420.0),
      spike(30000, 6, 420.0, 0.8, 1200.0), 0.0, 1200.0, 20)
    info(f"worst PSI/KL/JS gap $w%.6f")
    assert(w <= 0.01)
  }

  test("strong drift (PSI > 0.2): PSI/KL/JS within 0.01 of exact") {
    val r = new java.util.Random(7)
    val ref = Array.fill(60000)(r.nextDouble() * 1000.0)
    val cur = Array.fill(60000)(r.nextDouble() * 1000.0 + 150.0)
    def hist(a: Array[Double]) = Drift.histogram(frame(a, 4), "v", 0.0, 1200.0, 12)
    assert(Drift.psi(hist(ref), hist(cur)).head().getDouble(0) > 0.2)
    val w = worstDriftGap(ref, cur, 0.0, 1200.0, 12)
    info(f"worst PSI/KL/JS gap $w%.6f")
    assert(w <= 0.01)
  }

  test("no drift: psiSketched ≈ 0 across 20 reps") {
    val r = new java.util.Random(8)
    val a = Array.fill(40000)(r.nextDouble() * 1000.0)
    val worst = (0 until Reps).map { i =>
      val df = frame(arrive(a, orders(i % 3)), partitionings((i / 3) % 3))
      math.abs(Drift.psiSketched(df, df, "v", 0, 1000, 10).head().getDouble(0))
    }.max
    assert(worst < 0.01, s"psi=$worst")
  }

  test("empty group: quantiles read NULL, NaNs are skipped") {
    // g=1 holds only NULL and NaN: the built-in sketch is non-null but
    // empty, and its quantile reader would throw on it
    val df = (Seq((0, Some(1.0)), (0, None), (0, Some(3.0)), (1, None), (1, Some(Double.NaN))) ++
      (1 to 10).map(_ => (0, Some(Double.NaN)))).toDF("g", "v")
    val byGroup = df.groupBy("g").agg(Kll.sketch(col("v")).as("s"))
      .select(col("g"), Kll.n(col("s")), Kll.quantile(col("s"), 0.5))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(byGroup(0).getLong(1) == 2L && Seq(1.0, 3.0).contains(byGroup(0).getDouble(2)))
    assert(byGroup(1).getLong(1) == 0L && byGroup(1).isNullAt(2))
    val est = ColumnStats.quantileDigest(df.where(col("g") === 1), Seq("v"), Seq(0.5)).head()
    assert(est.isNullAt(2))
  }

  test("sketched drift fails loudly on an empty snapshot") {
    val full = frame(Array.tabulate(1000)(_.toDouble), 2)
    val empty = Seq(Option.empty[Double], Some(Double.NaN)).toDF("v")
    for ((ref, cur, side) <- Seq((full, empty, "current"), (empty, full, "reference"))) {
      val e = intercept[Exception](Drift.psiSketched(ref, cur, "v", 0, 1000, 10).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msgs.contains(s"the $side snapshot has no non-null, non-NaN 'v' value"), msgs)
    }
  }

  test("quantileDigest: long shape, one row per (column, q)") {
    val df = spark.range(30000).select((pmod(xxhash64(col("id")), lit(1000000)) / 1000.0).as("a"))
      .select(col("a"), (col("a") * 2).as("b"))
    val out = ColumnStats.quantileDigest(df, Seq("a", "b"), Seq(0.25, 0.5, 0.75))
    val rows = out.collect()
    assert(rows.length == 6)
    assert(out.columns.toSeq == Seq("column", "q", "est"))
    val mid = rows.find(r => r.getString(0) == "b" && r.getDouble(1) == 0.5).get.getDouble(2)
    // b is ~uniform on [0, 2000): the median must land mid-range
    assert(mid > 900 && mid < 1100, s"median of b was $mid")
  }

  test("q=0 and q=1 return the exact min/max") {
    val df = frame(heavyTail(20000, 9), 8)
    val Row(mn: Double, mx: Double) = df.agg(min("v"), max("v")).head()
    val Row(e0: Double, e1: Double) = df.agg(Kll.sketch(col("v")).as("s"))
      .select(Kll.quantile(col("s"), 0.0), Kll.quantile(col("s"), 1.0)).head()
    assert(e0 == mn && e1 == mx)
  }
}
