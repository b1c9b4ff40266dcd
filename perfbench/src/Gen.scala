package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs; the
  * program sees only what these produce. */
object Gen {
  /** 2024-01-01T00:00:00Z */
  val Epoch0: Long = 1704067200L
  val Day: Long = 86400L

  val Categories: Array[String] = Array("grocery_pos", "gas_transport", "shopping_net",
    "shopping_pos", "misc_net", "food_dining", "health_fitness", "travel",
    "entertainment", "home")

  final case class Card(cc: Long, gender: String, lat: Double, lon: Double,
      cityPop: Int, dobSec: Long)

  /** A raw transaction; amounts are whole cents, times whole seconds. */
  final case class Txn(card: Card, tsSec: Long, category: String, cents: Long,
      merchLat: Double, merchLon: Double, isFraud: Int) {
    def amt: Double = cents / 100.0
    def row: graft.schema.Txn = graft.schema.Txn(new Timestamp(tsSec * 1000L), card.cc,
      category, amt, card.gender, card.lat, card.lon, card.cityPop,
      new Timestamp(card.dobSec * 1000L), merchLat, merchLon, isFraud)
  }

  def cards(rng: SplittableRandom, n: Int): Array[Card] = Array.tabulate(n) { i =>
    val dob = Epoch0 - (18L * 365 + rng.nextLong(52L * 365)) * Day - rng.nextLong(Day)
    Card(4000000000000000L + i.toLong * 7919L, if (rng.nextBoolean()) "F" else "M",
      round4(25.0 + rng.nextDouble() * 23.0), round4(-123.0 + rng.nextDouble() * 53.0),
      1000 + rng.nextInt(2000000), dob)
  }

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** Skewed card popularity: index = n·u³, so the hottest 10% of cards
    * draw about 46% of the transactions. */
  def skewedIndex(rng: SplittableRandom, n: Int): Int =
    math.min(n - 1, (n * math.pow(rng.nextDouble(), 3)).toInt)

  /** The label rule: fraud odds grow with amount, at night (00–04 UTC)
    * and for online categories. */
  def fraudLogit(amt: Double, hour: Int, category: String): Double =
    -5.5 + 0.006 * amt + (if (hour < 5) 2.5 else 0.0) +
      (if (category.endsWith("_net")) 1.2 else 0.0)

  /** `n` transactions in [fromSec, toSec), unique per (card, second),
    * sorted by time. `used` carries the (card, second) keys already
    * taken by earlier batches. Some cards burst: a fifth of the
    * transactions follow the same card's previous one within minutes. */
  def txns(rng: SplittableRandom, cs: Array[Card], n: Int, fromSec: Long, toSec: Long,
      used: java.util.HashSet[(Long, Long)]): Array[Txn] = {
    val out = new Array[Txn](n)
    var last: Txn = null
    var i = 0
    while (i < n) {
      val card =
        if (last != null && rng.nextInt(5) == 0) last.card
        else cs(skewedIndex(rng, cs.length))
      var ts =
        if (last != null && last.card == card) math.min(toSec - 1, last.tsSec + 1 + rng.nextInt(300))
        else fromSec + rng.nextLong(toSec - fromSec)
      while (!used.add((card.cc, ts))) ts = if (ts + 1 < toSec) ts + 1 else fromSec
      val cat = Categories(rng.nextInt(Categories.length))
      val cents = math.max(100L, math.round(math.exp(3.8 + rng.nextGaussian()) * 100))
      val hour = ((ts % Day) / 3600).toInt
      val p = 1.0 / (1.0 + math.exp(-fraudLogit(cents / 100.0, hour, cat)))
      val t = Txn(card, ts, cat, cents,
        round4(card.lat + rng.nextDouble() * 2 - 1), round4(card.lon + rng.nextDouble() * 2 - 1),
        if (rng.nextDouble() < p) 1 else 0)
      out(i) = t
      last = t
      i += 1
    }
    out.sortBy(t => (t.tsSec, t.card.cc))
  }

  /** An embedding set with topic structure: groups of 12 vectors, each
    * a small perturbation of its group's random direction, so every
    * vector's exact top-10 neighbours are its group mates. */
  def embeddings(rng: SplittableRandom, n: Int, dim: Int): Array[Array[Double]] = {
    val centres = Array.fill((n + 11) / 12, dim)(rng.nextGaussian())
    Array.tabulate(n)(i => centres(i / 12).map(_ + 0.25 * rng.nextGaussian()))
  }

  /** Independent haversine in miles, R = 3963 (the reference's constant). */
  def haversineMiles(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val p1 = math.toRadians(lat1)
    val p2 = math.toRadians(lat2)
    val dp = p2 - p1
    val dl = math.toRadians(lon2) - math.toRadians(lon1)
    val h = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2 * 3963.0 * math.asin(math.sqrt(h))
  }
}
