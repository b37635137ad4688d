package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, row id), so the same seed gives the same rows whatever the
  * number of files or cores they are written with.
  */
object Rng {
  def apply(seed: Long, id: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt)
}

/** Raw transactions CSV after FIXTURES.md A.1: zipf-skewed senders,
  * a counted number of malformed rows, rows exactly on the chronological
  * split instant, same-second bursts and a planted fraud signal
  * (label odds rise with geo anomaly, spending deviation and velocity).
  */
object TxnGen {

  final case class Stats(rows: Long, malformed: Long, boundary: Long, bursts: Long, fraud: Long) {
    def +(o: Stats): Stats = Stats(rows + o.rows, malformed + o.malformed,
      boundary + o.boundary, bursts + o.bursts, fraud + o.fraud)
    def clean: Long = rows - malformed
  }

  val Header: String = Seq(
    "transaction_id", "timestamp", "sender_account", "receiver_account", "amount",
    "transaction_type", "merchant_category", "location", "device_used", "is_fraud",
    "fraud_type", "time_since_last_transaction", "spending_deviation_score",
    "velocity_score", "geo_anomaly_score", "payment_channel", "ip_address",
    "device_hash").mkString(",")

  private def micros(s: String): Long =
    LocalDateTime.parse(s).toEpochSecond(ZoneOffset.UTC) * 1000000L
  /** Two weeks around the split. Bronze is partitioned by date, so the
    * span sets the file count (days x input files): a full year makes
    * bronze write ~1,460 files, and one iteration would not fit a run.
    */
  val StartMicros: Long = micros("2023-10-13T00:00:00")
  val EndMicros: Long = micros("2023-10-27T00:00:00")
  val SplitMicros: Long = micros("2023-10-20T12:00:00")

  val Accounts = 20000
  private val ZipfS = 1.05
  /** Cumulative zipf weights over account ranks 1..Accounts. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Accounts)(k => 1.0 / math.pow(k + 1.0, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def zipfAccount(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, Accounts - 1)
  }
  /** Rank -> account id, scattered so the hot accounts are not adjacent. */
  private def accountId(rank: Int): String = f"ACC${(rank.toLong * 7919L) % 1000000L}%06d"

  private val TxnTypes = Array("deposit", "payment", "transfer", "withdrawal")
  private val Merchants = Array("entertainment", "grocery", "online", "other",
    "restaurant", "retail", "travel", "utilities")
  private val Locations = Array("Berlin", "Dubai", "London", "New York", "Singapore",
    "Sydney", "Tokyo", "Toronto")
  private val Devices = Array("atm", "mobile", "pos", "web")
  private val Channels = Array("ACH", "UPI", "card", "wire_transfer")
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def fmtTs(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC).format(TsFormat)
  private def r2(x: Double): String = f"$x%.2f"

  /** (sender rank, timestamp µs) of an anchor row. */
  private def anchor(seed: Long, r: Long): (Int, Long) = {
    val g = Rng(seed, r, 7)
    (zipfAccount(g.nextDouble()), StartMicros + g.nextLong(EndMicros - StartMicros))
  }

  /** One CSV line and what kind of row it is. Odd rows may join the
    * preceding even row's sender and second (a burst); even rows never
    * do, so a burst always pairs with a real row.
    */
  private def row(seed: Long, r: Long): (String, Stats) = {
    val g = Rng(seed, r, 1)
    val burst = r % 2 == 1 && g.nextDouble() < 0.06
    val boundary = !burst && g.nextDouble() < 0.001
    val malformed = !boundary && g.nextDouble() < 0.0005
    val (rank, ts) =
      if (burst) {
        val (k, t) = anchor(seed, r - 1)
        (k, t - Math.floorMod(t, 1000000L) + g.nextLong(1000000L))
      } else if (boundary) (anchor(seed, r)._1, SplitMicros)
      else anchor(seed, r)
    val geo = g.nextInt(101) / 100.0
    val dev = math.round(g.nextGaussian() * 100) / 100.0
    val vel = 1 + g.nextInt(20)
    val logit = -6.6 + 4.5 * geo + 1.4 * dev + 0.08 * vel
    val fraud = g.nextDouble() < 1.0 / (1.0 + math.exp(-logit))
    val amount = math.exp(3.5 + 1.1 * g.nextGaussian()) * (if (fraud) 2.5 else 1.0)
    val tslt = if (g.nextDouble() < 0.18) "" else r2(math.exp(g.nextGaussian()) * 3600.0)
    val fields = Array(
      s"T$r", fmtTs(ts), accountId(rank), accountId(g.nextInt(Accounts)), r2(amount),
      TxnTypes(g.nextInt(4)), Merchants(g.nextInt(8)), Locations(g.nextInt(8)),
      Devices(g.nextInt(4)), fraud.toString, if (fraud) "card_not_present" else "",
      tslt, r2(dev), vel.toString, r2(geo), Channels(g.nextInt(4)),
      s"${g.nextInt(256)}.${g.nextInt(256)}.${g.nextInt(256)}.${g.nextInt(256)}",
      f"D${g.nextInt(10000000)}%07d")
    if (malformed) (r % 3) match {
      case 0 => fields(1) = "2023-13-45T99:00:00.000000" // unparsable timestamp
      case 1 => fields(4) = fields(4) + "x" // unparsable amount
      case _ => () // truncated below
    }
    val line =
      if (malformed && r % 3 == 2) fields.take(9).mkString(",") else fields.mkString(",")
    (line, Stats(1, if (malformed) 1 else 0, if (boundary) 1 else 0,
      if (burst) 1 else 0, if (fraud && !malformed) 1 else 0))
  }

  /** Writes `rows` transactions as `files` CSV files (row r goes to file
    * r % files), one writer thread per file, and returns the counts.
    */
  def write(dir: Path, seed: Long, rows: Long, files: Int): Stats = {
    Files.createDirectories(dir)
    val pool = Executors.newFixedThreadPool(files)
    try {
      val tasks = (0 until files).map { f =>
        new Callable[Stats] {
          def call(): Stats = {
            val w: BufferedWriter =
              Files.newBufferedWriter(dir.resolve(f"part-$f%03d.csv"), StandardCharsets.UTF_8)
            try {
              w.write(Header); w.newLine()
              var acc = Stats(0, 0, 0, 0, 0)
              var r = f.toLong
              while (r < rows) {
                val (line, s) = row(seed, r)
                w.write(line); w.newLine()
                acc = acc + s
                r += files
              }
              acc
            } finally w.close()
          }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).reduce(_ + _)
    } finally pool.shutdown()
  }
}

/** Documents shaped like the `documents` test table (doc_id, text, lang,
  * source, n_chars) with stated shares of every kind a corpus pipeline
  * must handle.
  */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

object CorpusGen {

  /** Category shares, in draw order. Only `clean` documents survive
    * gate + decontamination + exact and near dedup.
    */
  val Shares: Seq[(String, Double)] = Seq(
    "clean" -> 0.60, "foreign" -> 0.12, "cjk" -> 0.03, "exact_dup" -> 0.08,
    "near_dup" -> 0.07, "low_quality" -> 0.05, "contaminated" -> 0.05)
  val PiiShare = 0.15 // of clean documents
  val EvalPassages = 64

  private val cumShares = Shares.map(_._2).scanLeft(0.0)(_ + _).tail.toArray

  private val Stop: Map[String, Array[String]] = graft.functions.TextFunctions.Stopwords
    .map { case (k, v) => k -> v.toArray }
  private val stopSet = Stop.values.flatten.toSet

  /** A fixed pseudo-word vocabulary (no stopwords), the same for every seed. */
  private val Vocab: Array[String] = {
    val g = new SplittableRandom(20231020L)
    Iterator.continually {
      val len = 3 + g.nextInt(7)
      new String(Array.fill(len)(('a' + g.nextInt(26)).toChar))
    }.filterNot(stopSet).distinct.take(4000).toArray
  }

  def category(seed: Long, id: Long): String = {
    val u = Rng(seed, id, 11).nextDouble()
    val i = cumShares.indexWhere(u < _)
    Shares(if (i < 0) Shares.size - 1 else i)._1
  }

  private def words(g: SplittableRandom, n: Int, stop: Array[String]): Array[String] =
    Array.tabulate(n) { i =>
      val w = if (g.nextDouble() < 0.3) stop(g.nextInt(stop.length)) else Vocab(g.nextInt(Vocab.length))
      if (i % 12 == 11) w + "." else w
    }

  private val Pii = Array("reach j.doe%d@example.com today", "call 555-%03d-4567 now",
    "host 10.%d.3.4 down", "ssn 123-45-%04d on file")

  /** Text of a clean English document: a pure function of (seed, id). */
  def cleanText(seed: Long, id: Long): String = {
    val g = Rng(seed, id, 21)
    val ws = words(g, 80 + g.nextInt(220), Stop("en"))
    if (g.nextDouble() < PiiShare) {
      val k = g.nextInt(Pii.length)
      ws(g.nextInt(ws.length)) = Pii(k).format(g.nextInt(1000))
    }
    ws.mkString(" ")
  }

  def evalText(seed: Long, e: Int): String = words(Rng(seed, e, 99), 60, Stop("en")).mkString(" ")

  /** The nearest earlier clean document, if any within 1000 ids. */
  private def cleanBefore(seed: Long, id: Long, g: SplittableRandom): Option[Long] = {
    val start = id - 1 - g.nextInt(math.max(1, math.min(id, 1000L).toInt))
    (start to math.max(0L, start - 1000L) by -1L).find(j => j >= 0 && category(seed, j) == "clean")
  }

  def doc(seed: Long, id: Long): Doc = {
    val g = Rng(seed, id, 31)
    val source = s"src${id % 20}"
    def mk(text: String, lang: String) = Doc(id, text, lang, source, text.length.toLong)
    category(seed, id) match {
      case "clean" => mk(cleanText(seed, id), "en")
      case "foreign" =>
        val lang = Seq("es", "de", "fr")(g.nextInt(3))
        mk(words(g, 80 + g.nextInt(200), Stop(lang)).mkString(" "), lang)
      case "cjk" =>
        mk(Array.fill(30 + g.nextInt(60))(
          new String(Array.fill(2 + g.nextInt(3))((0x4E00 + g.nextInt(0x800)).toChar))).mkString(" "),
          "zh")
      case "exact_dup" =>
        cleanBefore(seed, id, g).fold(mk(cleanText(seed, id), "en"))(j => mk(cleanText(seed, j), "en"))
      case "near_dup" =>
        cleanBefore(seed, id, g).fold(mk(cleanText(seed, id), "en")) { j =>
          val ws = cleanText(seed, j).split(" ")
          for (_ <- 0 until math.max(1, ws.length / 33)) ws(g.nextInt(ws.length)) = Vocab(g.nextInt(Vocab.length))
          mk(ws.mkString(" "), "en")
        }
      case "low_quality" => mk(Array.fill(2 + g.nextInt(3))("!?#$%&*".charAt(g.nextInt(7)).toString * 3).mkString(" "), "en")
      case _ => // contaminated: a whole eval passage inside English filler
        val filler = words(g, 40 + g.nextInt(40), Stop("en"))
        val (a, b) = filler.splitAt(g.nextInt(filler.length))
        mk((a ++ Array(evalText(seed, g.nextInt(EvalPassages))) ++ b).mkString(" "), "en")
    }
  }

  /** Clean documents among ids [0, n) — the expected survivor count.
    * Exact and near duplicates fall back to clean text when no earlier
    * clean document exists, so they count too in that case.
    */
  def expectedSurvivors(seed: Long, n: Long): Long =
    (0L until n).count { id =>
      category(seed, id) match {
        case "clean" => true
        case "exact_dup" | "near_dup" => cleanBefore(seed, id, Rng(seed, id, 31)).isEmpty
        case _ => false
      }
    }.toLong

  def docs(spark: SparkSession, seed: Long, n: Long, files: Int): DataFrame =
    spark.range(0L, n, 1L, files)
      .mapPartitions((it: Iterator[java.lang.Long]) => it.map(id => doc(seed, id)))(Encoders.product[Doc])
      .toDF()

  def eval(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    (0 until EvalPassages).map(e => evalText(seed, e)).toDF("text")
  }
}
