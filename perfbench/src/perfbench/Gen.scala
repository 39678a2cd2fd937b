package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, TextStyle}
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded input generators. Every file the program reads is written here,
  * and every expected answer the checks compare against is computed here
  * from the same draws, never by asking the program.
  */
object Gen {

  /** Writes a file through `body`; returns its size. */
  def writeLines(f: File)(body: BufferedWriter => Unit): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try body(w) finally w.close()
    f.length()
  }

  /** A stream of draws keyed by (seed, purpose, index), so that e.g. day 17's
    * file is the same whether or not days 1-16 were generated in this run. */
  def rng(seed: Long, purpose: String, idx: Long = 0): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong * 31 ^ idx)

  private val syll = Seq("ka", "lo", "mi", "ra", "ten", "vo", "shi", "pu", "den", "ar",
    "el", "zu", "no", "bri", "qua", "fen", "tor", "ix", "sa", "mel")

  def word(r: SplittableRandom, parts: Int): String =
    (0 until parts).map(_ => syll(r.nextInt(syll.size))).mkString

  // ------------------------------------------------------------------
  // orders_incremental: the child company's dirty CSVs (FIXTURES.md A1-A4)
  // plus the parent's clean gold CSVs (A5)
  // ------------------------------------------------------------------

  final case class Orders(
      customersCsv: String, productsCsv: String, pricesCsv: String,
      parentDir: String, historyDir: String, inputBytes: Long,
      productIds: IndexedSeq[String], customerIds: IndexedSeq[Int])

  /** Expected consolidated gold: the parent star's KPI inputs, the child
    * price per (product id, year), and child monthly quantity totals with
    * their (product, customer) cells. */
  final class OrdersTruth(val parent: StarTruth, val childPrice: Map[(String, Int), Double]) {
    val qty = mutable.Map.empty[LocalDate, Double].withDefaultValue(0.0)
    val cells = mutable.Map.empty[LocalDate, mutable.Set[(String, String)]]
    var childRevenue = 0.0
    def add(month: LocalDate, product: String, customer: String, q: Double): Unit = {
      qty(month) += q
      cells.getOrElseUpdate(month, mutable.Set.empty) += ((product, customer))
      childRevenue += q * childPrice.getOrElse((product, month.getYear), 0.0)
    }
    def revenue: Double = parent.revenue + childRevenue
    def quantity: Double = parent.quantity + qty.values.sum
    def customers: Int = (parent.customers ++ cells.values.flatten.map(_._2)).size
  }

  val lookupCityIds = Seq(789403, 789420, 789521, 789603)
  private val cityNoise = Seq("New York", "Chicago", "Austin", "Newyork", "New yok",
    "Chicagoo", "Chciago", "Chicgo", "Austn", "Austiin", "Austinn", "Boston")
  private val categories = Seq("energy bars", "Protien Bars", "granola & cereals",
    "Recovery Dairy", "healthy snacks", "Electrolyte Mix")
  private val variants = Seq("60g", "30 Sachets", "500g", "12 Pack", "1L")
  val bogusOrderProducts = Seq("12345678", "66666666")

  def orders(seed: Long, dir: File, historyDays: Int, rowsPerDay: Int,
      parentFactRows: Int): (Orders, OrdersTruth) = {
    val r = rng(seed, "orders-dims")
    var bytes = 0L
    // A1: 220 child customers, ids 789400..789619 (covers the four lookup ids)
    val custIds = (789400 until 789620).toIndexedSeq
    val custF = new File(dir, "customers.csv")
    bytes += writeLines(custF) { w =>
      w.write("customer_id,customer_name,city\n")
      custIds.foreach { id =>
        val base = s"${word(r, 2)} ${if (r.nextBoolean()) "nutrition" else "Fitness"}"
        val name = r.nextInt(5) match {
          case 0 => s" $base "
          case 1 => base.toLowerCase
          case _ => base
        }
        val city = if (lookupCityIds.contains(id)) "" else cityNoise(r.nextInt(cityNoise.size))
        val line = s"$id,$name,$city\n"
        w.write(line)
        if (r.nextInt(25) == 0) w.write(line) // A1 exact duplicate row
      }
    }
    // A2: 60 products, two exact duplicate rows, one alphanumeric id
    val prodIds = (0 until 60).map(i => (25891101 + i).toString)
    val prodF = new File(dir, "products.csv")
    bytes += writeLines(prodF) { w =>
      w.write("product_name,product_id,category\n")
      prodIds.zipWithIndex.foreach { case (id, i) =>
        val cat = categories(i % categories.size)
        val kind = if (i % 7 == 0) "Protien Bar" else word(r, 2)
        val line = s"${kind} P$i (${variants(i % variants.size)}),$id,$cat\n"
        w.write(line)
        if (i < 2) w.write(line)
      }
      w.write(s"Mystery Mix (60g),XYZ123,healthy snacks\n")
    }
    // A3: M/d/yy months, negatives, non-numeric prices, bogus product ids;
    // the expected price of a product-year is its latest nonzero monthly
    // price after sanitation (0.0 when every month is zero)
    val priceF = new File(dir, "gross_price.csv")
    val childPrice = mutable.Map.empty[(String, Int), Double]
    bytes += writeLines(priceF) { w =>
      w.write("product_id,month,gross_price\n")
      (prodIds ++ Seq("77777777", "88888888", "99999999")).foreach { id =>
        Seq(24, 25).foreach { yy =>
          childPrice((id, 2000 + yy)) = 0.0
          Seq(1, 4, 7, 12).foreach { m =>
            val month = r.nextInt(3) match {
              case 0 => s"$m/1/$yy"
              case 1 => f"20$yy/$m%02d/01"
              case _ => f"01/$m%02d/20$yy"
            }
            val price = r.nextInt(12) match {
              case 0 => "unknown"
              case 1 => "not_available"
              case 2 => f"-${1 + r.nextInt(20)}.${r.nextInt(10)}"
              case 3 => "0"
              case _ => f"${1 + r.nextInt(20)}.${r.nextInt(100)}%02d"
            }
            w.write(s"$id,$month,$price\n")
            val v = math.abs(price.toDoubleOption.getOrElse(0.0))
            if (v != 0.0) childPrice((id, 2000 + yy)) = v
          }
        }
      }
    }
    // A5: the parent's clean gold star; codes never collide with the child's
    // numeric customer ids or sha2 product codes
    val parent = new File(dir, "parent")
    val (parentTruth, parentBytes) =
      parentStar(r, parent, nCustomers = 18, nProducts = 40, factRows = parentFactRows)
    bytes += parentBytes
    val truth = new OrdersTruth(parentTruth, childPrice.toMap)
    val hist = new File(dir, "history")
    (0 until historyDays).foreach { d =>
      bytes += orderDay(seed, d, new File(hist, dayFileName(d)), rowsPerDay,
        prodIds, custIds, truth)
    }
    (Orders(custF.getPath, prodF.getPath, priceF.getPath, parent.getPath, hist.getPath,
      bytes, prodIds, custIds), truth)
  }

  val firstDay: LocalDate = LocalDate.of(2024, 1, 1)
  def dayFileName(d: Int): String =
    s"orders_${firstDay.plusDays(d).format(DateTimeFormatter.ofPattern("yyyy_MM_dd"))}.csv"

  private val fmtDash = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  private val fmtSlash = DateTimeFormatter.ofPattern("dd/MM/yyyy")
  private val fmtIso = DateTimeFormatter.ofPattern("yyyy/MM/dd")

  /** One landed day-file (A4): four date styles incl. the single-digit long
    * form that parses to NULL, invalid customer ids, ~5% empty quantities,
    * duplicate business-key rows, multi-line orders and bogus product ids.
    * Adds the day's expected contribution to `truth`; returns file bytes. */
  def orderDay(seed: Long, d: Int, f: File, rows: Int, prodIds: IndexedSeq[String],
      custIds: IndexedSeq[Int], truth: OrdersTruth): Long = {
    val r = rng(seed, "orders-day", d)
    val date = firstDay.plusDays(d)
    val month = date.withDayOfMonth(1)
    val seen = mutable.Set.empty[(String, Boolean, String, String, Double)]
    writeLines(f) { w =>
      w.write("order_id,order_placement_date,customer_id,product_id,order_qty\n")
      var n = 0
      var o = 0
      while (n < rows) {
        val orderId = f"ORD$d%05d$o%05d"
        o += 1
        val cust = r.nextInt(50) match {
          case 0 => "ABC987"
          case 1 => "INVALID"
          case _ => custIds(r.nextInt(custIds.size)).toString
        }
        val lines = 1 + r.nextInt(4)
        val prods = mutable.LinkedHashSet.empty[String]
        while (prods.size < lines)
          prods += (if (r.nextInt(100) == 0) bogusOrderProducts(r.nextInt(2))
            else prodIds(r.nextInt(prodIds.size)))
        prods.foreach { p =>
          val qty = if (r.nextInt(20) == 0) None else Some((1 + r.nextInt(50)).toDouble)
          val (raw, parses) = dateText(r, date)
          val line = s"$orderId,$raw,$cust,$p,${qty.fold("")(q => q.toLong.toString)}\n"
          val copies = if (r.nextInt(50) == 0) 2 else 1
          (0 until copies).foreach(_ => w.write(line))
          n += copies
          val custCode = if (cust.forall(_.isDigit)) cust else "999999"
          qty.foreach { q =>
            // dedup on the cleaned 5-column business key, then drop NULL
            // dates and products unknown to the product dim
            if (seen.add((orderId, parses, custCode, p, q)) && parses &&
                !bogusOrderProducts.contains(p))
              truth.add(month, p, custCode, q)
          }
        }
      }
    }
  }

  private def dateText(r: SplittableRandom, date: LocalDate): (String, Boolean) =
    r.nextInt(4) match {
      case 0 => (date.format(fmtDash), true)
      case 1 => (date.format(fmtSlash), true)
      case 2 => (date.format(fmtIso), true)
      case _ =>
        val wd = date.getDayOfWeek.getDisplayName(TextStyle.FULL, Locale.US)
        val mon = date.getMonth.getDisplayName(TextStyle.FULL, Locale.US)
        val single = date.getDayOfMonth < 10 && r.nextBoolean()
        val day = if (single) date.getDayOfMonth.toString else f"${date.getDayOfMonth}%02d"
        ("\"" + s"$wd, $mon $day, ${date.getYear}" + "\"", !single)
    }

  // ------------------------------------------------------------------
  // the parent company's consolidated gold star (FIXTURES.md A5)
  // ------------------------------------------------------------------

  val markets = Seq("Northeast", "Midwest", "South", "West Coast", "Pacific NW", "Mountain")
  val platforms = Seq("Summit Sporting Goods", "Trailhead Outlet", "PeakMart")
  val channels = Seq("Retail", "Direct", "E-Commerce")
  val divisions = Seq("Outdoor", "Fitness", "Team Sports", "Apparel", "Footwear", "Nutrition")

  final case class Dim(code: String, name: String, attrs: Map[String, String])

  /** Expected KPI inputs of a star, accumulated while its fact is written. */
  final class StarTruth {
    var revenue = 0.0
    var quantity = 0.0
    val customers = mutable.Set.empty[String]
  }

  val starMonths: IndexedSeq[LocalDate] = (0 until 24).map(firstDay.plusMonths(_))

  def parentStar(r: SplittableRandom, dir: File, nCustomers: Int, nProducts: Int,
      factRows: Int): (StarTruth, Long) = {
    var bytes = 0L
    val custs = (0 until nCustomers).map { i =>
      Dim(f"SG-C$i%04d", s"${word(r, 2).capitalize} Sports",
        Map("market" -> markets(r.nextInt(markets.size)),
          "platform" -> platforms(r.nextInt(platforms.size)),
          "channel" -> channels(r.nextInt(channels.size))))
    }
    val prods = (0 until nProducts).map { i =>
      Dim(f"SG${word(r, 2).toUpperCase.take(6)}$i%04d", s"${word(r, 2).capitalize} Gear",
        Map("division" -> divisions(r.nextInt(divisions.size))))
    }
    val price = (for (p <- prods; y <- Seq(2024, 2025))
      yield (p.code, y) -> (100 + r.nextInt(9900)) / 100.0).toMap
    bytes += writeLines(new File(dir, "dim_customers.csv")) { w =>
      w.write("customer_code,customer,market,platform,channel\n")
      custs.foreach(c => w.write(
        s"${c.code},${c.name},${c.attrs("market")},${c.attrs("platform")},${c.attrs("channel")}\n"))
    }
    bytes += writeLines(new File(dir, "dim_products.csv")) { w =>
      w.write("product_code,division,category,product,variant\n")
      prods.foreach(p => w.write(s"${p.code},${p.attrs("division")},General,${p.name},Std\n"))
    }
    bytes += writeLines(new File(dir, "dim_gross_price.csv")) { w =>
      w.write("product_code,price_usd,year\n")
      price.toSeq.sortBy(_._1).foreach { case ((c, y), v) => w.write(s"$c,$v,$y\n") }
    }
    val t = new StarTruth
    bytes += writeLines(new File(dir, "fact_orders.csv")) { w =>
      w.write("date,product_code,customer_code,sold_quantity\n")
      var i = 0
      while (i < factRows) {
        val m = starMonths(i % starMonths.size)
        val p = prods(r.nextInt(prods.size))
        val c = custs(r.nextInt(custs.size))
        val q = 1 + r.nextInt(1000)
        w.write(s"$m,${p.code},${c.code},$q\n")
        t.revenue += q * price((p.code, m.getYear))
        t.quantity += q
        t.customers += c.code
        i += 1
      }
    }
    (t, bytes)
  }

  // ------------------------------------------------------------------
  // crawl_dedup: a document corpus with planted near-duplicates
  // ------------------------------------------------------------------

  /** Documents of 40-80 words over a 3000-word vocabulary; the texts the
    * checks re-shingle live in `texts`. */
  final class Corpus(seed: Long) {
    private val vr = rng(seed, "vocab")
    val vocab: IndexedSeq[String] = (0 until 3000).map(_ => word(vr, 2 + vr.nextInt(3)))
    val texts = mutable.Map.empty[String, String]
    def fresh(r: SplittableRandom): String =
      (0 until 40 + r.nextInt(41)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    /** Same token sequence, different bytes: Jaccard exactly 1. */
    def spacing(r: SplittableRandom, t: String): String =
      t.split(" ").map(w => if (r.nextInt(8) == 0) w + "  " else w).mkString(" ")
    /** One or two words swapped out: Jaccard about 0.85-0.95. */
    def edit(r: SplittableRandom, t: String): String = {
      val ws = t.split(" ")
      (0 until 1 + r.nextInt(2)).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size)))
      ws.mkString(" ")
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  def writeDocs(f: File, docs: Seq[(String, String)]): Long = writeLines(f) { w =>
    docs.foreach { case (id, t) =>
      w.write(s"""{"doc_id":${jsonStr(id)},"text":${jsonStr(t)}}""" + "\n")
    }
  }

  /** Base corpus: `n` docs, ~10% of them planted near-dups of earlier ones. */
  def baseCorpus(c: Corpus, seed: Long, n: Int): Seq[(String, String)] = {
    val r = rng(seed, "base")
    val out = mutable.ArrayBuffer.empty[(String, String)]
    (0 until n).foreach { i =>
      val id = f"b$i%06d"
      val t =
        if (i > 10 && r.nextInt(10) == 0) {
          val src = out(r.nextInt(out.size))._2
          if (r.nextBoolean()) c.spacing(r, src) else c.edit(r, src)
        } else c.fresh(r)
      out += id -> t
      c.texts(id) = t
    }
    out.toSeq
  }

  /** A crawl increment: mostly novel docs, re-deliveries of indexed ids,
    * whitespace variants (must be found) and edited near-dups of indexed
    * docs and of earlier docs in the same batch. Returns the docs and the
    * (source, variant) pairs whose Jaccard is exactly 1. */
  def crawlBatch(c: Corpus, seed: Long, b: Int, size: Int,
      indexed: IndexedSeq[String]): (Seq[(String, String)], Seq[(String, String)]) = {
    val r = rng(seed, "batch", b)
    val docs = mutable.ArrayBuffer.empty[(String, String)]
    val mustFind = mutable.ArrayBuffer.empty[(String, String)]
    (0 until size).foreach { i =>
      val id = f"c$b%04d_$i%04d"
      r.nextInt(20) match {
        case 0 =>
          val old = indexed(r.nextInt(indexed.size))
          docs += old -> c.texts(old)
        case 1 | 2 =>
          val src = if (docs.nonEmpty && r.nextBoolean()) docs(r.nextInt(docs.size))._1
            else indexed(r.nextInt(indexed.size))
          val t = c.spacing(r, c.texts(src))
          docs += id -> t; c.texts(id) = t
          mustFind += src -> id
        case 3 =>
          val t = c.edit(r, c.texts(indexed(r.nextInt(indexed.size))))
          docs += id -> t; c.texts(id) = t
        case _ =>
          val t = c.fresh(r)
          docs += id -> t; c.texts(id) = t
      }
    }
    (docs.toSeq, mustFind.toSeq)
  }

  /** Distinct word 3-gram shingles over whitespace tokens (spaces trimmed
    * at both ends, then split on whitespace runs, keeping empty edge tokens);
    * texts with fewer than three tokens are one whole-text shingle. */
  def shingles(t: String): Set[String] = {
    val toks = t.replaceAll("^ +| +$", "").split("\\s+", -1)
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }
}
