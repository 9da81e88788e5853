package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import scala.collection.mutable

/** Seeded TPC-DI input generator for the benchmark (the operator
  * workload's corpus is generated by [[OpsCorpus.generate]]).
  *
  * `tpcdi` writes a DIGen-format Batch1 directory (the 17 source files
  * `graft.models.Loader.loadAll` reads) plus two incremental delta
  * directories, `batch2` and `batch3`, holding only the seven sources a
  * TPC-DI incremental batch carries: CustomerMgmt.xml, Trade.txt,
  * TradeHistory.txt, HoldingHistory.txt, CashTransaction.txt,
  * WatchHistory.txt and DailyMarket.txt. Every delta timestamp lies
  * past the previous batch's watermark (Batch1 trades are in 2020-01,
  * Batch2 in 2020-02, Batch3 in 2020-03).
  *
  * The seed decides the trade -> account/symbol assignment, every
  * timestamp and which entities each delta touches; the same seed gives
  * byte-identical files.
  *
  * Standalone: `Gen tpcdi <dir> <seed> <customers> <trades>` prints the
  * rows written per file.
  */
object Gen {

  private val TradeTypes = Vector("TMB", "TMS", "TLB", "TLS")

  /** Rows written per file, keyed "batchN/File". */
  type Sizes = Map[String, Long]

  private def pad(s: String, n: Int) =
    if (s.length >= n) s.take(n) else s.padTo(n, ' ')

  private final class Out(path: String) {
    private val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    var rows = 0L
    def line(s: String): Unit = { w.write(s); w.write('\n'); rows += 1 }
    def close(): Unit = w.close()
  }

  private def cleanDir(dir: String): Unit = {
    val d = new File(dir)
    if (d.exists()) d.listFiles().foreach(f => if (f.isFile) f.delete())
    d.mkdirs()
  }

  private def ts(date: LocalDate, secOfDay: Int): String =
    f"$date ${secOfDay / 3600}%02d:${secOfDay / 60 % 60}%02d:${secOfDay % 60}%02d"

  private def xmlTs(date: LocalDate, secOfDay: Int): String =
    ts(date, secOfDay).replace(' ', 'T')

  private def newCustomerXml(c: Int, at: String, broker: Int): String =
    s""" <TPCDI:Action ActionType="NEW" ActionTS="$at"><Customer C_ID="$c" C_TAX_ID="T$c" C_GNDR="${if (c % 2 == 0) "F" else "M"}" C_TIER="${c % 3 + 1}" C_DOB="1986-04-11"><Name><C_L_NAME>Last$c</C_L_NAME><C_F_NAME>First$c</C_F_NAME></Name><Address><C_ADLINE1>$c Main St</C_ADLINE1><C_ZIPCODE>ZIP$c</C_ZIPCODE><C_CITY>City</C_CITY><C_STATE_PROV>ST</C_STATE_PROV><C_CTRY>USA</C_CTRY></Address><ContactInfo><C_PRIM_EMAIL>u$c@x.com</C_PRIM_EMAIL></ContactInfo><TaxInfo><C_LCL_TX_ID>TX${"%03d".format(c % 50)}</C_LCL_TX_ID><C_NAT_TX_ID>TX${"%03d".format((c + 1) % 50)}</C_NAT_TX_ID></TaxInfo><Account CA_ID="$c" CA_TAX_ST="1"><CA_B_ID>$broker</CA_B_ID><CA_NAME>Acct$c</CA_NAME></Account></Customer></TPCDI:Action>"""

  private def updCustomerXml(c: Int, at: String, city: String): String =
    s""" <TPCDI:Action ActionType="UPDCUST" ActionTS="$at"><Customer C_ID="$c"><Address><C_CITY>$city</C_CITY></Address></Customer></TPCDI:Action>"""

  private val xmlHead = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
    "<TPCDI:Actions xmlns:TPCDI=\"http://tpc.org\">"
  private val xmlTail = "</TPCDI:Actions>"

  /** Writes `<dir>/batch1`, `<dir>/batch2`, `<dir>/batch3`. Each delta
    * carries new trades equal to 2% of Batch1's, status updates for
    * trades Batch1 left pending, new and updated customers, holdings,
    * cash rows, watch actions and a month of prices for a quarter of
    * the symbols.
    */
  def tpcdi(dir: String, seed: Long, nCust: Int, nTrades: Int): Sizes = {
    require(nCust >= 100, s"customers must be >= 100, got $nCust")
    require(nTrades >= 100, s"trades must be >= 100, got $nTrades")
    val rnd = new scala.util.Random(seed)
    val sizes = mutable.LinkedHashMap.empty[String, Long]
    val nComp = math.max(nCust / 100, 10)
    val nSym = nComp // one security per company
    val nBrokers = math.max(nCust / 50, 10)
    var customers = nCust
    var nextTrade = 0L
    val pending = mutable.ArrayBuffer.empty[Long]
    val tradeIds = mutable.ArrayBuffer.empty[Long]
    val activeWatch = mutable.LinkedHashSet.empty[(Int, Int)]
    val price = Array.tabulate(nSym)(s => 10.0 + s % 50)
    var lastMarketDay = LocalDate.of(2019, 1, 1)

    def open(batch: String, name: String): Out =
      new Out(s"$dir/$batch/$name")
    def done(batch: String, name: String, o: Out): Unit = {
      o.close(); sizes(s"$batch/$name") = o.rows
    }

    // trades + their two history rows, holdings and cash, for trade ids
    // [nextTrade, nextTrade + n) on random days of `month`
    def trades(batch: String, month: LocalDate, n: Int,
               firstDay: Int, pendingShare: Double): Unit = {
      val t = open(batch, "Trade.txt"); val th = open(batch, "TradeHistory.txt")
      val hh = open(batch, "HoldingHistory.txt")
      val ct = open(batch, "CashTransaction.txt")
      // status updates for trades an earlier batch left pending
      if (pending.nonEmpty) {
        val k = math.min(pending.size, math.max(1, n / 4))
        (0 until k).foreach { _ =>
          val id = pending.remove(rnd.nextInt(pending.size))
          th.line(s"$id|${ts(month.plusDays(firstDay + rnd.nextInt(20)),
            36000 + rnd.nextInt(20000))}|CMPT")
        }
      }
      val days = month.lengthOfMonth() - firstDay
      (0 until n).foreach { _ =>
        val id = nextTrade; nextTrade += 1
        val ca = rnd.nextInt(customers)
        val sym = rnd.nextInt(nSym)
        val day = month.plusDays(firstDay + rnd.nextInt(days))
        val sec = 34200 + rnd.nextInt(20000)
        val r = rnd.nextDouble()
        val st = if (r < pendingShare) "PNDG" else if (r < pendingShare + 0.1) "CNCL"
          else "CMPT"
        val tt = TradeTypes(rnd.nextInt(4))
        val qty = 1 + rnd.nextInt(500)
        val px = price(sym) * (0.9 + rnd.nextDouble() * 0.2)
        t.line(f"$id|${ts(day, sec + 3600)}|$st|$tt|${rnd.nextBoolean()}|SYM$sym|$qty.0|${px * 0.99}%.2f|$ca|Exec $id|$px%.2f|${rnd.nextInt(20)}.0|${rnd.nextInt(10)}.5|${rnd.nextInt(5)}.2")
        th.line(s"$id|${ts(day, sec)}|SBMT")
        th.line(s"$id|${ts(day, sec + 3600)}|$st")
        if (st == "PNDG") pending += id
        if (st == "CMPT" && rnd.nextInt(2) == 0) {
          // a holding either opens at this trade or continues an earlier one
          val prev = if (tradeIds.nonEmpty && rnd.nextInt(4) == 0)
            tradeIds(rnd.nextInt(tradeIds.size)) else id
          hh.line(s"$prev|$id|${rnd.nextInt(100)}.0|$qty.0")
        }
        if (rnd.nextInt(3) == 0)
          ct.line(f"$ca|${ts(day, sec + 3600)}|${rnd.nextInt(100000) / 100.0}%.2f|txn $id")
        tradeIds += id
      }
      Seq("Trade.txt" -> t, "TradeHistory.txt" -> th,
        "HoldingHistory.txt" -> hh, "CashTransaction.txt" -> ct)
        .foreach { case (n, o) => done(batch, n, o) }
    }

    // watch actions on `day`: n new (customer, symbol) watches, and a
    // cancel for roughly a quarter as many active ones
    def watches(batch: String, day: LocalDate, n: Int): Unit = {
      val w = open(batch, "WatchHistory.txt")
      var added = 0
      while (added < n) {
        val key = (rnd.nextInt(customers), rnd.nextInt(nSym))
        if (!activeWatch(key)) {
          activeWatch += key; added += 1
          w.line(s"${key._1}|SYM${key._2}|${ts(day, 32400 + rnd.nextInt(3600))}|ACTV")
        }
      }
      val cancel = activeWatch.iterator.filter(_ => rnd.nextInt(4) == 0)
        .take(math.max(1, n / 4)).toList
      cancel.foreach { key =>
        activeWatch -= key
        w.line(s"${key._1}|SYM${key._2}|${ts(day.plusDays(9), 32400 + rnd.nextInt(3600))}|CNCL")
      }
      done(batch, "WatchHistory.txt", w)
    }

    // prices for `syms` on every weekday in [from, until)
    def market(batch: String, syms: Seq[Int], from: LocalDate,
               until: LocalDate): Unit = {
      val w = open(batch, "DailyMarket.txt")
      var d = from
      while (d.isBefore(until)) {
        if (d.getDayOfWeek.getValue <= 5) syms.foreach { s =>
          price(s) = math.max(1.0, price(s) * (1 + (rnd.nextDouble() - 0.5) * 0.04))
          val p = price(s)
          w.line(f"$d|SYM$s|$p%.2f|${p * 1.02}%.2f|${p * 0.98}%.2f|${1000 + rnd.nextInt(9000)}")
        }
        d = d.plusDays(1)
      }
      lastMarketDay = until
      done(batch, "DailyMarket.txt", w)
    }

    // ---- Batch1 ---------------------------------------------------------
    val b1 = "batch1"
    cleanDir(s"$dir/$b1")
    def small(name: String)(rows: Out => Unit): Unit = {
      val o = open(b1, name); rows(o); done(b1, name, o)
    }
    small("StatusType.txt") { o =>
      Seq("ACTV" -> "Active", "CMPT" -> "Completed", "CNCL" -> "Canceled",
        "PNDG" -> "Pending", "SBMT" -> "Submitted", "INAC" -> "Inactive")
        .foreach { case (a, b) => o.line(s"$a|$b") }
    }
    small("TradeType.txt") { o =>
      o.line("TMB|Market Buy|false|true"); o.line("TMS|Market Sell|true|true")
      o.line("TLB|Limit Buy|false|false"); o.line("TLS|Limit Sell|true|false")
    }
    small("Industry.txt") { o =>
      (0 until 10).foreach(i => o.line(s"I$i|Industry $i|SC$i"))
    }
    small("TaxRate.txt") { o =>
      (0 until 50).foreach(i => o.line(f"TX$i%03d|Tax $i|0.${10 + i % 30}"))
    }
    small("HR.csv") { o =>
      (1 to nBrokers).foreach(i =>
        o.line(s"$i,${i / 10},First$i,Last$i,M,314,HQ,1F,555-$i"))
    }
    small("Date.txt") { o =>
      (0 until 730).foreach { i =>
        val d = LocalDate.of(2019, 1, 1).plusDays(i)
        o.line(s"${20190101 + i}|$d|$d|${d.getYear}|${d.getYear}|1|Q|1|M|1|W|1|D|${d.getYear}|F|1|FQ|false")
      }
    }
    small("Prospect.csv") { o =>
      (0 until nCust / 2).foreach { i =>
        val c = rnd.nextInt(nCust)
        o.line(s"AG$i,Last$c,First$c,M,F,$c Main St,,ZIP$c,City,ST,USA,555,${30000 + rnd.nextInt(150000)},${rnd.nextInt(4)},${rnd.nextInt(4)},S,${20 + rnd.nextInt(60)},${500 + rnd.nextInt(350)},O,EMP,${rnd.nextInt(6)},${rnd.nextInt(2000000)}")
      }
    }
    // FINWIRE: one file per quarter of 2019, CMP + SEC in Q1, FIN in all
    (1 to 4).foreach { q =>
      val name = s"FINWIRE2019Q$q"
      small(name) { o =>
        val pts = f"2019${q * 3 - 2}%02d15-090000"
        (0 until nComp).foreach { c =>
          val cik = f"$c%010d"
          if (q == 1) {
            o.line(pad(pts, 15) + "CMP" + pad(s"Company $c", 60) + cik +
              pad("ACTV", 4) + f"I${c % 10}%-2s" + pad("AAA", 4) + "19870105" +
              pad(s"$c Main St", 80) + pad("", 80) + pad("94105", 12) +
              pad("SF", 25) + pad("CA", 20) + pad("USA", 24) +
              pad(s"CEO $c", 46) + pad("Descr", 150))
            o.line(pad(pts, 15) + "SEC" + pad(s"SYM$c", 15) + pad("COMMON", 6) +
              pad("ACTV", 4) + pad(s"Security $c", 70) + pad("NYSE", 6) +
              pad("1000000", 13) + "19870106" + "19870107" + pad("0.42", 12) +
              pad(cik, 60))
          }
          val rev = 500000 + rnd.nextInt(1000000)
          o.line(pad(pts, 15) + "FIN" + "2019" + q.toString +
            f"2019${q * 3 - 2}%02d01" + f"2019${q * 3 - 2}%02d15" +
            pad(s"$rev.5", 17) + pad("250000.25", 17) +
            pad(f"${rnd.nextInt(300) / 100.0}%.2f", 12) + pad("1.20", 12) +
            pad("0.25", 12) + pad("50000", 17) + pad("2000000", 17) +
            pad("750000", 17) + pad("1000000", 13) + pad("1050000", 13) +
            pad(cik, 60))
        }
      }
    }
    small("CustomerMgmt.xml") { o =>
      o.line(xmlHead)
      (0 until nCust).foreach { c =>
        o.line(newCustomerXml(c,
          xmlTs(LocalDate.of(2019, 1, 5), 32400 + rnd.nextInt(3600)),
          c % nBrokers + 1))
        if (rnd.nextInt(3) == 0) o.line(updCustomerXml(c,
          xmlTs(LocalDate.of(2019, 6, 1), 32400 + rnd.nextInt(3600)), "NewCity"))
      }
      o.line(xmlTail)
    }
    trades(b1, LocalDate.of(2020, 1, 1), nTrades, firstDay = 0,
      pendingShare = 0.1)
    locally {
      val w = open(b1, "WatchHistory.txt")
      (0 until nCust).foreach { c =>
        val key = (c, rnd.nextInt(nSym))
        activeWatch += key
        w.line(s"$c|SYM${key._2}|${ts(LocalDate.of(2020, 1, 10), 32400 + rnd.nextInt(3600))}|ACTV")
        if (rnd.nextInt(4) == 0) {
          activeWatch -= key
          w.line(s"$c|SYM${key._2}|${ts(LocalDate.of(2020, 1, 20), 32400 + rnd.nextInt(3600))}|CNCL")
        }
      }
      done(b1, "WatchHistory.txt", w)
    }
    market(b1, 0 until nSym, LocalDate.of(2019, 1, 2), LocalDate.of(2020, 2, 1))

    // ---- Batch2 / Batch3 deltas ----------------------------------------
    val nDelta = math.max(1, nTrades / 50)
    Seq("batch2" -> LocalDate.of(2020, 2, 1), "batch3" -> LocalDate.of(2020, 3, 1))
      .foreach { case (b, month) =>
        cleanDir(s"$dir/$b")
        // customers: updates for 2% of the existing ones, 0.5% new ones
        // (opened on the 1st, before any of the month's trades)
        locally {
          val o = open(b, "CustomerMgmt.xml")
          o.line(xmlHead)
          val nNew = math.max(1, customers / 200)
          (customers until customers + nNew).foreach(c =>
            o.line(newCustomerXml(c, xmlTs(month, 28800 + rnd.nextInt(3600)),
              c % nBrokers + 1)))
          rnd.shuffle((0 until customers).toVector).take(customers / 50)
            .sorted.foreach(c => o.line(updCustomerXml(c,
              xmlTs(month.plusDays(1 + rnd.nextInt(20)), 32400 + rnd.nextInt(3600)),
              s"City${rnd.nextInt(100)}")))
          o.line(xmlTail)
          done(b, "CustomerMgmt.xml", o)
          customers += nNew
        }
        trades(b, month, nDelta, firstDay = 1, pendingShare = 0.05)
        watches(b, month.plusDays(2), math.max(1, nCust / 50))
        market(b, rnd.shuffle((0 until nSym).toVector).take(math.max(1, nSym / 4)),
          lastMarketDay, month.plusMonths(1))
      }
    sizes.toMap
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "tpcdi" :: dir :: seed :: c :: t :: Nil
        if seed.toLongOption.exists(_ >= 0) && c.toIntOption.nonEmpty &&
          t.toIntOption.nonEmpty =>
      tpcdi(dir, seed.toLong, c.toInt, t.toInt).toSeq.sorted
        .foreach { case (k, v) => println(s"$k\t$v") }
    case _ =>
      System.err.println("usage: Gen tpcdi <dir> <seed >= 0> <customers> <trades>")
      sys.exit(2)
  }
}
