package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded OKX frame mix for the live-backlog workload.
  *
  * Eight symbols with Zipf(1) skew; about 1% control frames and 0.5%
  * malformed frames (so the normalizer's drop paths run); of the rest, 2/3
  * `books5` frames with 5 levels per side and 1/3 `trades` frames with 1-3
  * fills. Prices and sizes are generated as short decimal strings, so the
  * JSONL line each event must produce can be rebuilt here without
  * depending on any formatting code of the engine.
  */
object Frames {
  val symbols: Seq[String] = Seq("BTC-USDT", "ETH-USDT", "SOL-USDT", "XRP-USDT",
    "DOGE-USDT", "ADA-USDT", "AVAX-USDT", "LINK-USDT")
  val channels: Seq[String] = Seq("books5", "trades")

  /** Price of each symbol in cents at the start of a feed. */
  private val basePriceCents: Array[Long] =
    Array(6500000L, 340000L, 15000L, 60L, 15L, 45L, 3500L, 1500L)

  private val zipfCdf: Array[Double] = {
    val w = symbols.indices.map(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** A frame ready to send, with the JSONL lines its events must produce.
    * Each expected line has the four receive/processing stamps replaced by
    * [[StampMarker]] (see [[Jsonl.contentKey]]).
    */
  final case class Frame(raw: String, lines: Seq[String], symbol: String, channel: String)

  val StampMarker = "#"

  /** Decimal string for `unscaled / 10^scale`, as the wire carries it. */
  private def dec(unscaled: Long, scale: Int): String =
    java.math.BigDecimal.valueOf(unscaled, scale).toPlainString

  /** The JSON rendering of a double parsed from the decimal string `s`:
    * the shortest round-trip form, which for these short decimals is the
    * decimal itself with trailing zeros removed and at least one fraction
    * digit (as Python's `json.dumps` writes it).
    */
  def jsonDouble(s: String): String = {
    val d = new java.math.BigDecimal(s).stripTrailingZeros
    val plain = d.toPlainString
    if (plain.contains('.')) plain else plain + ".0"
  }

  /** Seeded content stream: `next(tsMs)` returns the next frame stamped with
    * exchange time `tsMs`.
    */
  final class Gen(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val price = basePriceCents.clone()
    private var tradeSeq = 0L

    private def symbolIdx(): Int = {
      val u = rnd.nextDouble()
      val i = zipfCdf.indexWhere(u < _)
      if (i < 0) zipfCdf.length - 1 else i
    }

    def next(tsMs: Long): Frame = {
      val u = rnd.nextDouble()
      val k = symbolIdx()
      val sym = symbols(k)
      // random walk of the mid in cents, floored at 10 cents
      price(k) = math.max(10L, price(k) + rnd.nextLong(-3L, 4L) * math.max(1L, price(k) / 20000))
      if (u < 0.01) {
        val ch = channels(rnd.nextInt(2))
        Frame(s"""{"event":"subscribe","arg":{"channel":"$ch","instId":"$sym"},"connId":"c${rnd.nextInt(1000)}"}""",
          Nil, sym, ch)
      } else if (u < 0.015) {
        val whole = book(sym, tsMs, k)
        // truncated mid-document: never valid JSON
        Frame(whole.raw.take(whole.raw.length / 2), Nil, sym, "books5")
      } else if (rnd.nextInt(3) < 2) book(sym, tsMs, k)
      else trades(sym, tsMs, k)
    }

    private def book(sym: String, tsMs: Long, k: Int): Frame = {
      val mid = price(k)
      val tick = math.max(1L, mid / 10000)
      def side(sign: Int) = (0 until 5).map { i =>
        val px = math.max(1L, mid + sign * tick * (i + 1))
        val sz = 10L + rnd.nextLong(50000L)       // 0.0010 .. 5.0009
        val cnt = 1 + rnd.nextInt(20)
        (dec(px, 2), dec(sz, 4), cnt)
      }
      val bids = side(-1)
      val asks = side(+1)
      def wire(ls: Seq[(String, String, Int)]) =
        ls.map { case (p, s, c) => s"""["$p","$s","0","$c"]""" }.mkString("[", ",", "]")
      def json(ls: Seq[(String, String, Int)]) =
        ls.map { case (p, s, c) => s"[${jsonDouble(p)},${jsonDouble(s)},$c]" }.mkString("[", ",", "]")
      val raw = s"""{"arg":{"channel":"books5","instId":"$sym"},"data":[{"asks":${wire(asks)},"bids":${wire(bids)},"ts":"$tsMs","checksum":${rnd.nextInt()}}]}"""
      val line = Jsonl.head(sym, "books5", "book_topn", tsMs) +
        s"""{"n":5,"best_bid":${jsonDouble(bids.head._1)},"best_ask":${jsonDouble(asks.head._1)},"bids":${json(bids)},"asks":${json(asks)}}}"""
      Frame(raw, Seq(line), sym, "books5")
    }

    private def trades(sym: String, tsMs: Long, k: Int): Frame = {
      val fills = (0 until 1 + rnd.nextInt(3)).map { _ =>
        tradeSeq += 1
        val px = dec(math.max(1L, price(k) + rnd.nextLong(-2L, 3L)), 2)
        val sz = dec(1L + rnd.nextLong(20000L), 4)
        val side = if (rnd.nextBoolean()) "buy" else "sell"
        (px, sz, side, s"${k + 1}${"%09d".format(tradeSeq)}")
      }
      val data = fills.map { case (px, sz, side, id) =>
        s"""{"instId":"$sym","tradeId":"$id","px":"$px","sz":"$sz","side":"$side","ts":"$tsMs"}"""
      }
      val raw = s"""{"arg":{"channel":"trades","instId":"$sym"},"data":${data.mkString("[", ",", "]")}}"""
      val lines = fills.map { case (px, sz, side, id) =>
        Jsonl.head(sym, "trades", "trade", tsMs) +
          s"""{"price":${jsonDouble(px)},"size":${jsonDouble(sz)},"side":"$side","trade_id":"$id"}}"""
      }
      Frame(raw, lines, sym, "trades")
    }
  }

  /** `n` frames all stamped `tsMs` (the backlog feed), from `seed`. */
  def backlog(seed: Long, n: Int, tsMs: Long): IndexedSeq[Frame] = {
    val g = new Gen(seed)
    (0 until n).map(_ => g.next(tsMs))
  }
}

/** The JSONL line layout, rebuilt independently of the engine. */
object Jsonl {
  def head(sym: String, channel: String, eventType: String, tsMs: Long): String =
    s"""{"exchange":"okx","symbol":"$sym","channel":"$channel","event_type":"$eventType","ts_exchange_ms":$tsMs,""" +
      Frames.StampMarker + ""","payload":"""

  private val stamps =
    """"ts_recv_epoch_ms":(-?\d+),"ts_recv_mono_ns":(-?\d+),"ts_decoded_mono_ns":(-?\d+),"ts_proc_mono_ns":(-?\d+)""".r

  /** A written line with its stamps replaced by the marker, plus the
    * receive epoch ms it carried; None when the stamps are missing.
    */
  def contentKey(line: String): Option[(String, Long)] =
    stamps.findFirstMatchIn(line).map { m =>
      (line.substring(0, m.start) + Frames.StampMarker + line.substring(m.end), m.group(1).toLong)
    }

  /** Frame-level exactly-once check of JSONL content against the frames
    * that were offered: a frame fails when any of its events is missing; a
    * written line that no frame accounts for fails on its own.
    */
  def check(offered: Iterable[Frames.Frame], written: Iterator[String]): (Int, Int) = {
    val bag = mutable.HashMap.empty[String, Int]
    var lines = 0
    written.foreach { l =>
      lines += 1
      val key = contentKey(l).map(_._1).getOrElse(l)
      bag(key) = bag.getOrElse(key, 0) + 1
    }
    var failed = 0
    offered.foreach { f =>
      val need = f.lines.groupBy(identity).map { case (k, v) => k -> v.size }
      if (!need.forall { case (k, c) => bag.getOrElse(k, 0) >= c }) {
        if (failed < 3) System.err.println(s"[graftbench] JSONL missing an event of frame ${f.raw}")
        failed += 1
      }
      need.foreach { case (k, c) => bag.get(k).foreach(have => bag(k) = math.max(0, have - c)) }
    }
    bag.filter(_._2 > 0).keys.take(3).foreach(k => System.err.println(s"[graftbench] unexpected JSONL line $k"))
    failed += bag.valuesIterator.filter(_ > 0).sum
    (lines, failed)
  }
}
