package graft.pipebench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Seeded input generator. The seed picks every value the program later
  * reads; the program itself only ever sees the files written here.
  * All generation happens in set-up, never inside a timed phase. */
object Inputs {

  /** Sizes of one workload's generated inputs. */
  final case class Scale(customers: Int, parts: Int, orders: Int,
                         docs: Int, users: Int, eventsPerFile: Int,
                         eventFiles: Int)

  val Scales: Map[String, Scale] = Map(
    // the harness self-test size
    "tiny" -> Scale(customers = 20, parts = 20, orders = 20, docs = 120,
      users = 12, eventsPerFile = 40, eventFiles = 4),
    // the benchmark size, set by the run budget: one run of each of the
    // three workloads must average under about 45 s at 4 cores. At the
    // `large` sizes the job and task counts are the same, and a run
    // takes about 5 s (refresh_cycle), 6 s (corpus_fold) and 4 s
    // (event_stream) longer.
    "bench" -> Scale(customers = 150, parts = 200, orders = 200,
      docs = 900, users = 64, eventsPerFile = 400, eventFiles = 6),
    // the row counts of the sf0.001 orders and of the sf0.1 documents
    // (5,000) and events (100k): for measuring how cost grows with rows
    "large" -> Scale(customers = 150, parts = 200, orders = 1500,
      docs = 5000, users = 2000, eventsPerFile = 16667, eventFiles = 6))

  private def write(df: DataFrame, path: Path): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path.toString)

  private val types = Vector("STANDARD ANODIZED TIN",
    "SMALL PLATED COPPER", "MEDIUM BURNISHED NICKEL",
    "LARGE BRUSHED STEEL", "ECONOMY POLISHED BRASS", "PROMO PLATED TIN")

  /** TPC-H-shaped `customer`, `part`, `orders` and `lineitem` parquet
    * tables under `dir` — the columns [[graft.ref.RefFixturesScale]]
    * maps onto the reference's raw QuickBooks inputs. */
  def tpch(spark: SparkSession, dir: Path, s: Scale, seed: Long): Unit = {
    import spark.implicits._
    val r = new Random(seed)
    def money(lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    write((1 to s.customers).map(k =>
      (k.toLong, f"Customer#$k%09d", r.nextInt(25), money(-999, 9999),
        Seq("BUILDING", "MACHINERY", "AUTOMOBILE")(r.nextInt(3))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"), dir.resolve("customer.parquet"))
    val retail = (1 to s.parts).map(k =>
      k.toLong -> (900.0 + (k % 200) + money(0, 100))).toMap
    write((1 to s.parts).map(k =>
      (k.toLong, s"part $k", s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        types(r.nextInt(types.size)), 1 + r.nextInt(50), retail(k.toLong)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"), dir.resolve("part.parquet"))
    // order dates span the two item snapshots (1995-01-01, 1996-01-01)
    val day0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val orders = (1 to s.orders).map { k =>
      val lines = (1 to 1 + r.nextInt(6)).map { ln =>
        val part = 1L + r.nextInt(s.parts)
        val qty = (1 + r.nextInt(50)).toDouble
        (k.toLong, part, 1L + r.nextInt(100), ln, qty,
          math.round(qty * retail(part) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0)
      }
      val date = new Timestamp(day0 + r.nextInt(900) * 86400000L)
      val status = Seq("F", "O", "P")(r.nextInt(3))
      ((k.toLong, 1L + r.nextInt(s.customers), status,
        math.round(lines.map(_._6).sum * 100) / 100.0, date,
        s"${1 + r.nextInt(5)}-PRIORITY"), lines)
    }
    write(orders.map(_._1).toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
      dir.resolve("orders.parquet"))
    write(orders.flatMap(_._2).toDF("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax"), dir.resolve("lineitem.parquet"))
  }

  /** Snake column name → the human XLSX header QuickBooks exports
    * carry, which `Fns.standardizeColumns` maps back. The DLT
    * double-underscore amount is renamed back by `cli.Main`. */
  private def header(snake: String): String = snake match {
    case "product_service" => "Product/Service"
    case "product_service_description" => "Product/Service Description"
    case "product_service_quantity" => "Product/Service Quantity"
    case "product_service_rate" => "Product/Service Rate"
    case "product_service__amount" => "Product/Service Amount"
    case "product_service_amount" => "Product Service Amount"
    case _ => snake.split('_').filter(_.nonEmpty)
      .map(w => w.head.toUpper + w.tail).mkString(" ")
  }

  private def sheet(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.toSeq
      .filterNot(Set("load_date", "snapshot_date", "is_seed"))
    val rows = df.select(cols.map(c => col(c).cast("string")): _*)
      .collect().toSeq
      .map(r => cols.indices.map(i => Option(r.getString(i)).getOrElse("")))
      .sortBy(_.mkString("\u0001"))
    cols.map(header) +: rows
  }

  /** A source tree in the `cli.Main` / `Ingest.discover` conventions,
    * built from generated TPC-H tables through the
    * [[graft.ref.RefFixturesScale]] mapping rules. `seed/` holds a
    * dated backlog: the historical lists and transactions workbooks,
    * then a later daily transactions file, so the seed pass replaces
    * each raw table from the first file and merges the later one (the
    * DLT merge path). The seed picks that daily drop: which invoices
    * arrive only in it. `input/` stays empty, so an incremental pass
    * after the seed has nothing new: the skip pass. */
  def workbookTree(spark: SparkSession, tpchDir: Path, root: Path,
                   seed: Long): Unit = {
    import graft.ref.RefFixturesScale
    Seq("seed", "input", "config").foreach(d =>
      Files.createDirectories(root.resolve(d)))
    val d = tpchDir.toString
    val r = new Random(seed ^ 0x5eedL)
    val invoices = sheet(RefFixturesScale.rawInvoices(spark, d))
    // ~5% of invoice numbers arrive only in the daily transactions file
    val invNos = invoices.tail.map(_.head).distinct.sorted
    val daily = r.shuffle(invNos).take(math.max(1, invNos.size / 20)).toSet
    val (invDaily, invOld) = invoices.tail.partition(row => daily(row.head))
    def xlsx(rel: String, sheets: (String, Seq[Seq[String]])*): Unit =
      graft.cli.DemoSource.writeXlsx(root.resolve(rel), sheets)
    xlsx("seed/All Lists_05_01_2024_seed.xlsx",
      "Customer" -> sheet(RefFixturesScale.rawCustomers(spark, d)),
      "Item" -> sheet(RefFixturesScale.rawItems(spark, d)
        .filter(col("snapshot_date") === "1995-01-01")))
    xlsx("seed/2024-06-20_transactions.xlsx",
      "Invoice" -> (invoices.head +: invOld),
      "Sales Receipt" -> sheet(RefFixturesScale.rawSalesReceipts(spark, d)))
    xlsx("seed/2024-06-21_transactions.xlsx",
      "Invoice" -> (invoices.head +: invDaily))
    Files.writeString(root.resolve("config/individual_email_domains.txt"),
      "gmail.com\nyahoo.com\nhotmail.com\noutlook.com\naol.com\n")
  }

  private val stops = Vector("the", "a", "and", "is", "of", "to", "in",
    "for", "with", "on", "an")

  /** Two corpus batch drops. Docs are 24–40 words (every third word a
    * stopword, the rest from a 2,000-word vocabulary, so originals pass
    * the curation gates and share few content words). One doc in ten
    * is a planted duplicate of an earlier original: half exact copies,
    * half double-spaced copies (same tokens, different fingerprint, so
    * only the near-dup index clusters them). The seed picks the texts
    * and which third of the docs forms the second batch. Returns the
    * number of originals: with every planted duplicate removed, the
    * pipeline can keep at most that many canonical docs. */
  def corpus(spark: SparkSession, seedDir: Path, foldDir: Path,
             docs: Int, seed: Long): Long = {
    import spark.implicits._
    val r = new Random(seed)
    def text(): String = (0 until 24 + r.nextInt(17)).map(j =>
      if (j % 3 == 0) stops(r.nextInt(stops.size))
      else "w" + r.nextInt(2000)).mkString(" ")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    var originals = 0L
    (0 until docs).foreach { i =>
      if (i >= 20 && r.nextInt(10) == 0) {
        val src = texts(r.nextInt(i))
        texts += (if (r.nextBoolean()) src else src.replace(" ", "  "))
      } else {
        texts += text()
        originals += 1
      }
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"crawl/${i % 7}")
    }
    val fold = r.shuffle(rows.indices.toVector).take(docs / 3).toSet
    val (b2, b1) = rows.zipWithIndex.partition { case (_, i) => fold(i) }
    write(b1.map(_._1).toSeq.toDF("doc_id", "text", "lang", "source"), seedDir)
    write(b2.map(_._1).toSeq.toDF("doc_id", "text", "lang", "source"), foldDir)
    originals
  }

  /** Event files in landing order, plus the expected (events, cents)
    * totals. Events for `users` users land as `files` files in
    * event-time order, except that the seed moves a share of events one
    * or two files later than their event time (late arrivals, always
    * within [[LateSlack]] of the watermark). A last sentinel file two
    * days past the data (user -1) advances the watermark so every open
    * session closes. */
  val SliceHours = 2
  /** Watermark delay that covers the largest generated lateness. */
  val LateSlack = s"${3 * SliceHours} hours"

  def events(spark: SparkSession, dir: Path, s: Scale,
             seed: Long): (Long, Long) = {
    import spark.implicits._
    val r = new Random(seed)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val sliceMs = SliceHours * 3600000L
    val latePct = 5 + r.nextInt(11)
    var id = 0L
    val slices = (0 until s.eventFiles).map { f =>
      (0 until s.eventsPerFile).map { _ =>
        id += 1
        // minute-grained times so 30-minute gaps open and close sessions
        val ts = t0 + f * sliceMs + r.nextInt((sliceMs / 60000).toInt) * 60000L
        (id, new Timestamp(ts), r.nextInt(s.users).toLong,
          Seq("view", "click", "purchase", "signup")(r.nextInt(4)),
          r.nextInt(50000) / 100.0, f)
      }
    }.flatten
    val landed = slices.map { e =>
      val late = r.nextInt(100) < latePct
      if (!late) e
      else e.copy(_6 = math.min(s.eventFiles - 1, e._6 + 1 + r.nextInt(2)))
    }
    val end = t0 + s.eventFiles * sliceMs + 2 * 86400000L
    val sentinel = (-1L, new Timestamp(end), -1L, "sentinel", 0.0,
      s.eventFiles)
    // one file per landing slot, `dir/f=<slot>/part-*.parquet`, in one job
    (landed :+ sentinel)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "f")
      .repartition(col("f")).write.mode("overwrite").partitionBy("f")
      .parquet(dir.toString)
    (slices.size.toLong,
      slices.map(e => math.round(e._5 * 100)).sum)
  }
}
