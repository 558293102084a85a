package graft

import graft.ext.HeavyHitters

/** Misra–Gries + exact-verify heavy hitters: exactness vs a naive
  * full groupBy, superset guarantee under adversarial partitioning.
  */
class HeavyHittersSpec extends SparkSpec {

  test("exactly matches the naive full groupBy on skewed data") {
    import spark.implicits._
    // Zipf-ish: item i appears ~ 3000/i times, i = 1..100
    val data = (1 to 100).flatMap(i => Seq.fill(3000 / i)(s"w$i"))
    val k = 20
    val items = spark.createDataset(data).repartition(8)
    val got = HeavyHitters.frequentItems(items, k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = data.size
    val want = data.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, f) => f * k > n }.toMap
    assert(got === want)
    assert(got.nonEmpty) // the head of the distribution must survive
  }

  test("exact under adversarial partitioning (heavy item spread thin)") {
    import spark.implicits._
    // one heavy item diluted across many partitions full of noise
    val heavy = Seq.fill(5000)("HH")
    val noise = (1 to 20000).map(i => s"n$i")
    val items = spark.createDataset(
      scala.util.Random.shuffle(heavy ++ noise).toSeq)
      .repartition(16)
    val res = HeavyHitters.frequentItems(items, 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // n = 25000, threshold n/4 = 6250: nothing qualifies
    assert(res.isEmpty)
    val res2 = HeavyHitters.frequentItems(items, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // threshold 2500 < 5000: exactly the heavy item, exact count
    assert(res2 === Map("HH" -> 5000L))
  }
}
