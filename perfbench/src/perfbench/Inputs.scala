package perfbench

import java.util.SplittableRandom

/** One generated document, in the column layout of the repo's
  * `documents.parquet` test table (doc_id, text, lang, source, n_chars). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                     n_chars: Long)

/** The TPC-H-shaped tables `graft.queries.Tables.edges` derives the KG from:
  * customer -[placed]-> order -[contains]-> part -[supplied_by]-> supplier. */
final case class Kg(orders: Seq[(Long, Long)], // (o_orderkey, o_custkey)
                    lineitems: Seq[(Long, Long, Long)]) { // (order, part, supp)
  /** Every edge as "src [label] dst" — the text `Traversal.verbalizeTriplets`
    * renders, so context lines can be checked by set membership. */
  lazy val edgeLines: Set[String] =
    (orders.iterator.map { case (o, c) => s"c:$c [placed] o:$o" } ++
      lineitems.iterator.flatMap { case (o, p, s) =>
        Iterator(s"o:$o [contains] p:$p", s"p:$p [supplied_by] s:$s") }).toSet
}

/** A KGQA request input: a mention of a customer node, possibly edited. */
final case class Mention(text: String, intended: String, edited: Boolean)

/**
 * Seeded input generators. Every generator takes the seed and returns plain
 * values; the program under test only ever sees these values, never the seed.
 * Each generator salts the seed so the streams are independent.
 */
object Inputs {

  // The vocabulary and length range of the repo's documents test table.
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** `n` documents of 10-100 vocabulary tokens over 20 sources; ~2% are
    * exact copies of an earlier document and ~3% near copies (an earlier
    * text plus the token "dup"), so exact dedup and LSH both find pairs. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 1)
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val roll = r.nextInt(100)
      val text =
        if (i > 0 && roll < 2) texts(r.nextInt(i))
        else if (i > 0 && roll < 5) texts(r.nextInt(i)) + " dup"
        else Iterator.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size)))
          .mkString(" ")
      texts += text
      Doc(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  /** `n` questions, each a 3-6 token span of a randomly picked document. */
  def questions(seed: Long, docs: IndexedSeq[Doc], n: Int): IndexedSeq[String] = {
    val r = rng(seed, 3)
    IndexedSeq.fill(n) {
      val toks = docs(r.nextInt(docs.size)).text.split(" ")
      val len = math.min(toks.length, 3 + r.nextInt(4))
      val from = r.nextInt(toks.length - len + 1)
      toks.slice(from, from + len).mkString(" ")
    }
  }

  /** A KG with `customers` customers, ~10 orders each, 1-4 lines per order
    * over `customers` parts and `customers / 10` suppliers. */
  def kg(seed: Long, customers: Int): Kg = {
    val r = rng(seed, 4)
    val parts = customers
    val suppliers = math.max(1, customers / 10)
    val orders = (0 until customers * 10).map(o => (o.toLong,
      r.nextInt(customers).toLong))
    val lines = orders.flatMap { case (o, _) =>
      Seq.fill(1 + r.nextInt(4)) {
        val p = r.nextInt(parts).toLong
        (o, p, (p * 7 + r.nextInt(3)) % suppliers)
      }
    }
    Kg(orders, lines)
  }

  /** `n` mentions of customers that placed at least one order; about one in
    * four carries a one-character edit (digit substitution or a dropped
    * colon), so linking has to be fuzzy. */
  def mentions(seed: Long, kg: Kg, n: Int): IndexedSeq[Mention] = {
    val r = rng(seed, 5)
    val active = kg.orders.map(_._2).distinct.sorted.toIndexedSeq
    IndexedSeq.fill(n) {
      val id = s"c:${active(r.nextInt(active.size))}"
      if (r.nextInt(4) != 0) Mention(id, id, edited = false)
      else if (r.nextBoolean()) Mention(id.replace(":", ""), id, edited = true)
      else {
        val at = 2 + r.nextInt(id.length - 2)
        val d = ((id.charAt(at) - '0' + 1 + r.nextInt(9)) % 10 + '0').toChar
        Mention(id.updated(at, d), id, edited = true)
      }
    }
  }
}
