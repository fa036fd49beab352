package graftbench

import java.time.LocalDate

import scala.collection.mutable

/** Seeded input generators. Every input the program sees comes from
  * here, as a function of the seed alone; the expected values the
  * output checks compare against are kept beside the inputs. */
object Gen {

  /** HHS capacity-file header: the six columns the ingest renames plus
    * one the pipeline ignores, as in the published files. */
  val HhsHeader: Seq[String] = Seq("state", "date", "inpatient_beds",
    "inpatient_beds_used", "total_staffed_adult_icu_beds",
    "staffed_adult_icu_bed_occupancy",
    "previous_day_admission_adult_covid_confirmed")

  val States: IndexedSeq[String] = ("AK AL AR AS AZ CA CO CT DC DE FL GA GU " +
    "HI IA ID IL IN KS KY LA MA MD ME MI MN MO MP MS MT NC ND NE NH NJ NM " +
    "NV NY OH OK OR PA RI SC SD TN TX UT VA VI VT WA WI WV WY")
    .split(' ').toIndexedSeq

  /** One accepted capacity row; icu fields may be absent. */
  final case class Cap(total: Int, occupied: Int, icuBeds: Option[Int],
                       icuOccupied: Option[Int])

  /** The validation cascade's rules, in order; one planted row per
    * entry fails exactly that rule (every earlier rule passes). */
  val RejectReasons: IndexedSeq[String] = IndexedSeq(
    "date is required", "invalid date format", "region is required",
    "total_beds is required", "occupied_beds is required",
    "total_beds cannot be negative", "occupied_beds cannot be negative",
    "occupied_beds cannot exceed total_beds", "icu_beds cannot be negative",
    "icu_occupied cannot be negative", "icu_occupied cannot exceed icu_beds")

  private def cell(o: Option[Int]): String = o.map(_.toString).getOrElse("")

  private def line(state: String, date: String, c: Cap, rnd: java.util.Random): String =
    Seq(state, date, c.total.toString, c.occupied.toString, cell(c.icuBeds),
      cell(c.icuOccupied), rnd.nextInt(400).toString).mkString(",")

  def cap(rnd: java.util.Random): Cap = {
    val total = 50 + rnd.nextInt(4000)
    val occupied = rnd.nextInt(total + 1)
    // a few rows carry no ICU figures, some report zero ICU beds (the
    // pipeline's truthiness rule treats those as missing)
    val icu = rnd.nextInt(20) match {
      case 0 => (None, None)
      case 1 => (Some(0), Some(0))
      case _ =>
        val beds = 5 + rnd.nextInt(total / 5 + 1)
        (Some(beds), Some(rnd.nextInt(beds + 1)))
    }
    Cap(total, occupied, icu._1, icu._2)
  }

  /** A row failing rule `r` (index into [[RejectReasons]]) and no
    * earlier rule. */
  private def rejectLine(r: Int, state: String, date: String,
                         rnd: java.util.Random): String = {
    val c = cap(rnd).copy(icuBeds = Some(10), icuOccupied = Some(4))
    val fields: Seq[String] = r match {
      case 0 => Seq(state, "", c.total.toString, c.occupied.toString, "10", "4")
      case 1 => Seq(state, "2021-13-45", c.total.toString, c.occupied.toString, "10", "4")
      case 2 => Seq("", date, c.total.toString, c.occupied.toString, "10", "4")
      case 3 => Seq(state, date, "", c.occupied.toString, "10", "4")
      case 4 => Seq(state, date, c.total.toString, "", "10", "4")
      case 5 => Seq(state, date, "-5", "0", "10", "4")
      case 6 => Seq(state, date, c.total.toString, "-3", "10", "4")
      case 7 => Seq(state, date, c.total.toString, (c.total + 7).toString, "10", "4")
      case 8 => Seq(state, date, c.total.toString, c.occupied.toString, "-2", "4")
      case 9 => Seq(state, date, c.total.toString, c.occupied.toString, "10", "-1")
      case _ => Seq(state, date, c.total.toString, c.occupied.toString, "10", "13")
    }
    (fields :+ rnd.nextInt(400).toString).mkString(",")
  }

  /** A generated CSV: its text, and what a correct ingest must make of it. */
  final case class Csv(text: String, rows: Long, rejects: Map[String, Long],
                       facts: Map[(LocalDate, String), Cap]) {
    def bytes: Long = text.getBytes("UTF-8").length.toLong
    def rejected: Long = rejects.values.sum
  }

  /** A capacity file over `dates` × the first `regions` states: valid
    * rows, about `rejectFrac` rows each failing one validation rule
    * (every rule at least once), and about `dupFrac` (date, region) keys
    * repeated later in the file with new figures (the later row wins). */
  def capacityCsv(seed: Long, dates: Seq[LocalDate], regions: Int,
                  rejectFrac: Double, dupFrac: Double): Csv = {
    val rnd = new java.util.Random(seed)
    val states = States.take(regions)
    // (position, line): originals sit at their index, a duplicate lands
    // strictly after its original, rejects anywhere
    val placed = mutable.ArrayBuffer.empty[(Double, String)]
    val facts = mutable.LinkedHashMap.empty[(LocalDate, String), Cap]
    val keys = for (d <- dates; s <- states) yield (d, s)
    keys.zipWithIndex.foreach { case ((d, s), i) =>
      val c = cap(rnd)
      placed += ((i.toDouble, line(s, d.toString, c, rnd)))
      facts((d, s)) = c
    }
    val n = keys.size
    val nDup = math.max(1, math.round(n * dupFrac).toInt)
    rnd.ints(0, n).distinct().limit(nDup).toArray.sorted.foreach { i =>
      val (d, s) = keys(i)
      val c = cap(rnd)
      placed += ((i + 0.5 + rnd.nextDouble() * (n - i), line(s, d.toString, c, rnd)))
      facts((d, s)) = c
    }
    val nRej = math.max(RejectReasons.size, math.round(n * rejectFrac).toInt)
    val rejects = mutable.Map.empty[String, Long].withDefaultValue(0L)
    (0 until nRej).foreach { k =>
      val r = if (k < RejectReasons.size) k else rnd.nextInt(RejectReasons.size)
      val (d, s) = keys(rnd.nextInt(n))
      placed += ((rnd.nextDouble() * n, rejectLine(r, s, d.toString, rnd)))
      rejects(RejectReasons(r)) += 1
    }
    val body = placed.sortBy(_._1).map(_._2)
    Csv((HhsHeader.mkString(",") +: body).mkString("", "\n", "\n"),
      body.size.toLong, rejects.toMap, facts.toMap)
  }

  /** One compressed day of the serving workload: every region reports
    * `day`, a fraction of regions correct `day − 1`, and one row fails
    * validation (rule chosen by the day). */
  def dayCsv(seed: Long, day: LocalDate, regions: Int,
             correctionFrac: Double, dayIndex: Int): Csv = {
    val rnd = new java.util.Random(seed * 1000003L + day.toEpochDay)
    val states = States.take(regions)
    val facts = mutable.LinkedHashMap.empty[(LocalDate, String), Cap]
    val lines = mutable.ArrayBuffer.empty[String]
    states.foreach { s =>
      if (rnd.nextDouble() < correctionFrac) {
        val c = cap(rnd)
        lines += line(s, day.minusDays(1).toString, c, rnd)
        facts((day.minusDays(1), s)) = c
      }
    }
    states.foreach { s =>
      val c = cap(rnd)
      lines += line(s, day.toString, c, rnd)
      facts((day, s)) = c
    }
    val r = Math.floorMod(dayIndex, RejectReasons.size)
    lines.insert(rnd.nextInt(lines.size + 1),
      rejectLine(r, states(rnd.nextInt(states.size)), day.toString, rnd))
    Csv((HhsHeader.mkString(",") +: lines.toSeq).mkString("", "\n", "\n"),
      lines.size.toLong, Map(RejectReasons(r) -> 1L), facts.toMap)
  }

  // ---- curation corpus -------------------------------------------------

  /** The token vocabulary of the engine's document fixtures. */
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector " +
    "stream value data small join filter big group hash customer sort " +
    "order slow line part fast row the agg key query a scan batch")
    .split(' ').toIndexedSeq

  val Langs: Seq[(String, Double)] = Seq("en" -> 0.41, "zh" -> 0.15,
    "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Emb(id: Long, vec: Array[Float], label: Int)

  /** `base` documents in near-dup families (about `dupFrac` of them
    * copy an earlier document with one token changed), replicated
    * `copies` times by the engine's scaling rule: copy k > 0 offsets ids
    * by k·10⁶ and interleaves a `ctag<k>` token after every 4th token,
    * so copies are not near-dups of one another — scaling multiplies
    * the number of families, never their size. Embeddings cover about
    * 40% of ids; copy k's vectors are circularly shifted by k dims. */
  def corpus(seed: Long, base: Int, copies: Int, dupFrac: Double,
             dim: Int = 64): (Seq[Doc], Seq[Emb]) = {
    val rnd = new java.util.Random(seed)
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    (0 until base).foreach { i =>
      if (i > 0 && rnd.nextDouble() < dupFrac) {
        val src = texts(rnd.nextInt(i)).clone()
        src(rnd.nextInt(src.length)) = "dup"
        texts += src
      } else texts += Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size)))
    }
    def pick(): String = {
      var u = rnd.nextDouble()
      Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
    }
    val meta = texts.indices.map(_ => (pick(), s"src${rnd.nextInt(20)}"))
    val vecs = (0 until (base * 2 / 5)).map { _ =>
      (Array.fill(dim)((rnd.nextGaussian() * 0.1).toFloat), rnd.nextInt(10))
    }
    val docs = for (k <- 0 until copies; i <- texts.indices) yield {
      val toks = texts(i)
      val text = if (k == 0) toks.mkString(" ")
        else toks.zipWithIndex.map { case (t, j) =>
          if (j % 4 == 3) s"$t ctag$k" else t }.mkString(" ")
      Doc(k * 1000000L + i, text, meta(i)._1, meta(i)._2)
    }
    val embs = for (k <- 0 until copies; ((v, label), j) <- vecs.zipWithIndex)
      yield {
        val s = k % dim
        Emb(k * 1000000L + j, if (s == 0) v else v.drop(s) ++ v.take(s), label)
      }
    (docs, embs)
  }

  /** The tick a document arrives in: a seed-keyed hash of its id. */
  def tickOf(seed: Long, docId: Long, ticks: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, docId))
    Math.floorMod(h, ticks)
  }
}
