package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Rows of the generated inputs, kept beside the JSON so the
  * correctness checks can recompute every expected result from the
  * source records without going through the library under test. */
final case class Customer(customer_id: java.lang.Long, name: String, email: String,
                          segment: String, street: String, city: String,
                          postal_code: String, country: String)
final case class Product(product_id: Long, name: String, category: String, price: Double)
final case class Item(line_no: Long, product_id: Long, quantity: Long, price: Double)
final case class Order(order_id: java.lang.Long, version: Long, order_ts: String,
                       customer_id: Long, customer_name: String, items: Seq[Item],
                       method: String, transaction_id: String, metadata: Seq[String])
/** One order line as the source states it (the recompute's input). */
final case class SourceLine(order_id: java.lang.Long, version: Long, order_ts: String,
                            customer_id: Long, line_no: Long, product_id: Long,
                            quantity: Long, price: Double)
final case class Doc(doc_id: Long, text: String)

/** Shares of the generated order stream (of records delivered). */
final case class Mix(duplicate: Double, violation: Double, late: Double)

/** Seeded generator of the benchmark's inputs. Everything is drawn
  * from one `SplittableRandom(seed)` on one thread, so the same seed
  * gives byte-identical files. The shapes follow the
  * TPC-H tables the reference pipeline is usually fed from (25
  * nations, customers, parts as products, orders with 1-7 lines). */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
  private def chance(p: Double): Boolean = rnd.nextDouble() < p

  val nations: IndexedSeq[String] = IndexedSeq("algeria", "argentina", "brazil",
    "canada", "egypt", "ethiopia", "france", "germany", "india", "indonesia",
    "iran", "iraq", "japan", "jordan", "kenya", "morocco", "mozambique", "peru",
    "china", "romania", "saudi arabia", "vietnam", "russia", "united kingdom",
    "united states")
  private val cities = IndexedSeq("north", "south", "east", "west", "old", "new",
    "port", "lake", "fort", "mount").flatMap(p => IndexedSeq("haven", "field",
    "ridge", "bay", "ford").map(s => s"$p $s"))
  private val first = IndexedSeq("ada", "bo", "cy", "dee", "eli", "fay", "gus",
    "hal", "ivy", "jo", "kai", "lea", "max", "ned", "ola", "pia", "quin", "rex")
  private val last = IndexedSeq("smith", "ng", "garcia", "muller", "rossi",
    "kim", "silva", "novak", "okafor", "jensen", "dubois", "tanaka")
  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val categories = IndexedSeq("Brass", "Copper", "Nickel", "Steel", "Tin",
    "Polished", "Anodized", "Burnished", "Plated", "Brushed")
  private val methods = IndexedSeq("card", "paypal", "transfer", "cash")
  private val tags = IndexedSeq("web", "mobile", "store", "promo", "gift", "repeat")

  /** A timestamp in 2023-2024, `yyyy-MM-dd HH:mm:ss`. */
  private def ts(): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(rnd.nextInt(730).toLong)
    f"$d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
  }
  private def cents(lo: Int, hi: Int): Double = (lo * 100 + rnd.nextInt((hi - lo) * 100)) / 100.0

  def customers(n: Int, badShare: Double): IndexedSeq[Customer] =
    (1 to n).map { i =>
      val f = pick(first); val l = pick(last)
      val bad = chance(badShare)
      val spaced = bad && chance(0.5)
      Customer(i.toLong, if (spaced) s" $f $l" else s"$f $l",
        if (bad && !spaced) s"$f.$l.example.com" else s"$f.$l$i@example.com",
        pick(segments), s"${rnd.nextInt(999) + 1} main st", pick(cities),
        f"${rnd.nextInt(99999)}%05d", pick(nations))
    }

  def products(n: Int): IndexedSeq[Product] =
    (1 to n).map(i => Product(i.toLong, s"part-$i", pick(categories), cents(1, 2000)))

  /** A valid order: every line references a known product, positive
    * quantity, date inside the DQ range. */
  def order(id: Long, nCustomers: Int, nProducts: Int, version: Long = 1): Order = {
    val cust = rnd.nextInt(nCustomers) + 1L
    val lines = rnd.nextInt(7) + 1
    Order(id, version, ts(), cust, s"customer-$cust",
      (1 to lines).map(l => Item(l.toLong, rnd.nextInt(nProducts) + 1L,
        rnd.nextInt(50) + 1L, cents(1, 2000))),
      pick(methods), s"tx-$id-$version", (1 to rnd.nextInt(3) + 1).map(_ => pick(tags)))
  }

  /** An order breaking one order-level DQ rule: null PK, out-of-range
    * date, non-positive quantity or an orphan product. */
  def violating(id: Long, nCustomers: Int, nProducts: Int): Order = {
    val o = order(id, nCustomers, nProducts)
    rnd.nextInt(4) match {
      case 0 => o.copy(order_id = null)
      case 1 => o.copy(order_ts = s"1850-01-15${o.order_ts.drop(10)}") // valid, out of range
      case 2 => o.copy(items = o.items.updated(0, o.items.head.copy(quantity = -rnd.nextInt(3).toLong)))
      case _ => o.copy(items = o.items.updated(0,
        o.items.head.copy(product_id = nProducts + 1L + rnd.nextInt(1000))))
    }
  }

  /** A late update: same order and lines, a newer version with new
    * quantities, prices and payment. */
  def update(o: Order): Order =
    o.copy(version = o.version + 1, items = o.items.map(it =>
      it.copy(quantity = rnd.nextInt(50) + 1L, price = cents(1, 2000))),
      method = pick(methods), transaction_id = s"tx-${o.order_id}-${o.version + 1}")

  /** Bulk order stream: `n` distinct orders plus redelivered copies
    * and violating orders; shuffled so copies land in other files. */
  def bulkOrders(n: Int, firstId: Long, nCustomers: Int, nProducts: Int,
                 mix: Mix): IndexedSeq[Order] = {
    val base = (0 until n).map { i =>
      if (chance(mix.violation)) violating(firstId + i, nCustomers, nProducts)
      else order(firstId + i, nCustomers, nProducts)
    }
    val dups = base.filter(_ => chance(mix.duplicate))
    shuffle(base ++ dups)
  }

  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** One increment: `n` new orders, late updates and exact
    * redeliveries of valid earlier orders, and violating orders.
    * `latest` holds the newest delivered version of every valid order
    * and is updated in place. */
  def increment(n: Int, nextId: Long, nCustomers: Int, nProducts: Int, mix: Mix,
                latest: scala.collection.mutable.LinkedHashMap[Long, Order]): IndexedSeq[Order] = {
    val keys = latest.keysIterator.toIndexedSeq
    val out = ArrayBuffer.empty[Order]
    (0 until n).foreach { i =>
      val o = if (chance(mix.violation)) violating(nextId + i, nCustomers, nProducts)
        else order(nextId + i, nCustomers, nProducts)
      out += o
    }
    (0 until math.max(1, (n * mix.late).toInt)).foreach { _ =>
      val k = pick(keys); val u = update(latest(k)); latest(k) = u; out += u
    }
    (0 until math.max(1, (n * mix.duplicate).toInt)).foreach { _ =>
      out += latest(pick(keys))
    }
    out.filter(o => o.order_id != null && isValid(o, nProducts))
      .foreach(o => if (!latest.contains(o.order_id)) latest(o.order_id) = o)
    shuffle(out.toIndexedSeq)
  }

  def isValid(o: Order, nProducts: Int): Boolean =
    !o.order_ts.startsWith("1850") && o.items.forall(it =>
      it.quantity > 0 && it.product_id <= nProducts)

  // ---- text corpus ----

  private val stop = IndexedSeq("the", "a", "and", "of", "to", "in", "is", "it")
  private val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    (0 until 4000).map(_ => (0 until 3 + r.nextInt(6)).map(_ =>
      ('a' + r.nextInt(26)).toChar).mkString)
  }
  private def words(n: Int): IndexedSeq[String] =
    (0 until n).map(_ => if (chance(0.3)) pick(stop) else pick(vocab))

  /** Corpus with planted copies. Returns the docs, the held-out set,
    * the ids of exact copies and of contaminated docs (all of which
    * curation must remove). Copies always get a higher id than their
    * original, so keep-first by id keeps the original. */
  def corpus(n: Int): (IndexedSeq[Doc], IndexedSeq[Doc], Set[Long], Set[Long]) = {
    val holdout = (0 until math.max(10, n / 40)).map(i =>
      Doc(1000000L + i, words(60 + rnd.nextInt(40)).mkString(" ")))
    val docs = ArrayBuffer.empty[Doc]
    val exact = Set.newBuilder[Long]; val contaminated = Set.newBuilder[Long]
    var id = 1L
    while (docs.size < n) {
      val r = rnd.nextDouble()
      if (docs.size > 10 && r < 0.08) { // exact copy
        docs += Doc(id, docs(rnd.nextInt(docs.size)).text); exact += id
      } else if (docs.size > 10 && r < 0.16) { // near copy: ~4% tokens changed
        val src = docs(rnd.nextInt(docs.size)).text.split(" ")
        docs += Doc(id, src.map(w => if (chance(0.04)) pick(vocab) else w).mkString(" "))
      } else if (docs.size > 10 && r < 0.21) { // substring copy: 30-token span
        val src = docs(rnd.nextInt(docs.size)).text.split(" ")
        val at = rnd.nextInt(math.max(1, src.length - 30))
        docs += Doc(id, (words(30) ++ src.slice(at, at + 30) ++ words(30)).mkString(" "))
      } else if (r < 0.24) { // held-out contamination
        docs += Doc(id, pick(holdout).text); contaminated += id
      } else docs += Doc(id, words(60 + rnd.nextInt(60)).mkString(" "))
      id += 1
    }
    (docs.toIndexedSeq, holdout, exact.result(), contaminated.result())
  }
}

/** JSON encoding of the generated records. Every file is one JSON
  * array, the multi-line shape Bronze reads. Only ASCII letters,
  * digits, spaces and `@.-` are generated, so nothing needs escaping. */
object Json {
  private def s(v: String): String = if (v == null) "null" else "\"" + v + "\""

  def customer(c: Customer): String =
    s"""{"customer_id":${c.customer_id},"name":${s(c.name)},"email":${s(c.email)},"segment":${s(c.segment)},""" +
      s""""address":{"street":${s(c.street)},"city":${s(c.city)},"postal_code":${s(c.postal_code)},"country":${s(c.country)}}}"""

  def product(p: Product): String =
    s"""{"product_id":${p.product_id},"name":${s(p.name)},"category":${s(p.category)},"price":${p.price}}"""

  def order(o: Order): String = {
    val items = o.items.map(i =>
      s"""{"line_no":${i.line_no},"product_id":${i.product_id},"quantity":${i.quantity},"price":${i.price}}""")
    s"""{"order_id":${o.order_id},"version":${o.version},"order_ts":${s(o.order_ts)},""" +
      s""""customer":{"customer_id":${o.customer_id},"name":${s(o.customer_name)}},""" +
      s""""items":[${items.mkString(",")}],""" +
      s""""payment":{"method":${s(o.method)},"transaction_id":${s(o.transaction_id)}},""" +
      s""""metadata":[${o.metadata.map(s).mkString(",")}]}"""
  }

  /** Write `recs` as `files` JSON-array files under `dir`; returns bytes written. */
  def writeFiles(dir: Path, prefix: String, recs: IndexedSeq[String], files: Int): Long = {
    Files.createDirectories(dir)
    val per = math.max(1, (recs.size + files - 1) / files)
    recs.grouped(per).zipWithIndex.map { case (g, i) =>
      val bytes = g.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)
      Files.write(dir.resolve(f"$prefix-$i%05d.json"), bytes)
      bytes.length.toLong
    }.sum
  }
}
