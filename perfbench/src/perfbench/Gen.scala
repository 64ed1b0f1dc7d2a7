package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.regex.Pattern

/** Seeded input generators. Every file the engine reads is written here from
  * the run's seed; the truths the checks compare against stay in memory and
  * are never shown to the engine. */
object Gen {

  // ------------------------------------------------------------ reviews

  final case class Review(id: Long, hotel: Long, date: String, title: String,
                          pros: String, cons: String, lang: String,
                          authorType: String, votes: Int) {
    /** The silver `text_column`: ReviewIngest.toSilver's `concat_ws(". ")`. */
    def text: String = s"$title. $pros. $cons"
  }

  val languages: Array[String] = Array("en-gb", "de", "fr", "es", "it", "nl")
  val authorTypes: Array[String] = Array("solo_traveller",
    "review_category_group_of_friends", "couple", "family_with_children")
  /** ReviewIngest.pageQuery's default filters. */
  val pageLanguages: Set[String] = Set("en-gb", "de", "fr")
  val pageAuthorTypes: Set[String] = Set("solo_traveller", "review_category_group_of_friends")

  private val filler = Array("room", "staff", "breakfast", "location", "bed",
    "view", "pool", "check", "in", "the", "was", "very", "and", "a", "with",
    "quiet", "street", "station", "price", "coffee", "shower", "parking",
    "wifi", "lobby", "night", "stay", "would", "again", "city", "centre")
  private val positive = Array("fast", "good", "great")
  private val negative = Array("slow", "bad", "poor")

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def hotelId(rank: Int): Long = 1000000L + 7L * rank

  private def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(filler(r.nextInt(filler.length))).mkString(" ")

  /** A clause with `k` planted markers among filler words. */
  private def clause(r: SplittableRandom, markers: Array[String], k: Int): String = {
    val ws = scala.collection.mutable.ArrayBuffer.fill(4 + r.nextInt(8))(filler(r.nextInt(filler.length)))
    (0 until k).foreach(_ => ws.insert(r.nextInt(ws.size + 1), markers(r.nextInt(markers.length))))
    ws.mkString(" ")
  }

  /** `n` reviews with ids from `firstId`, Zipf-skewed hotels and planted
    * sentiment markers: a third lean positive, a third negative, a third
    * carry no marker or a balanced pair. */
  def reviews(r: SplittableRandom, firstId: Long, n: Int, hotels: Zipf): IndexedSeq[Review] =
    (0 until n).map { i =>
      val (pk, nk) = r.nextInt(3) match {
        case 0 => (1 + r.nextInt(3), r.nextInt(2))
        case 1 => (r.nextInt(2), 1 + r.nextInt(3))
        case _ => val k = r.nextInt(2); (k, k)
      }
      val day = 1 + r.nextInt(28)
      Review(
        id = firstId + i,
        hotel = hotelId(hotels.sample(r)),
        date = f"2024-${1 + r.nextInt(12)}%02d-$day%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d",
        title = words(r, 2 + r.nextInt(4)),
        pros = clause(r, positive, pk),
        cons = clause(r, negative, nk),
        lang = languages(r.nextInt(languages.length)),
        authorType = authorTypes(r.nextInt(authorTypes.length)),
        votes = r.nextInt(6))
    }

  private def reviewJson(v: Review): String = {
    val (checkin, nights) = (v.date.take(10), 1 + (v.id % 5).toInt)
    s"""{"review_id":${v.id},"review_hash":"h${java.lang.Long.toHexString(v.id * 2654435761L)}","hotel_id":${v.hotel},""" +
      s""""hotelier_name":"","date":"${v.date}","title":"${v.title}","title_translated":"",""" +
      s""""pros":"${v.pros}","pros_translated":"","cons":"${v.cons}","cons_translated":"",""" +
      s""""average_score":${5 + v.id % 6}.0,"travel_purpose":"leisure","languagecode":"${v.lang}",""" +
      s""""countrycode":"gb","helpful_vote_count":${v.votes},"reviewng":0,"is_trivial":0,""" +
      s""""is_moderated":0,"is_incentivised":0,"anonymous":"","hotelier_response":"",""" +
      s""""author":{"type":"${v.authorType}","type_string":"Guest","age_group":"","countrycode":"gb",""" +
      s""""city":"","name":"guest ${v.id % 997}","avatar":"","helpful_vote_count":${v.votes},""" +
      s""""user_id":${v.id * 31},"nr_reviews":${1 + v.id % 9}},""" +
      s""""stayed_room_info":{"room_id":${v.id % 50},"room_name":"double room","checkin":"$checkin",""" +
      s""""checkout":"$checkin","num_nights":$nights},"tags":["${v.lang}","review"],""" +
      s""""user_new_badges":[],"reviewer_photos":[]}"""
  }

  /** Writes one API page per file (the reference's 25-review envelope). */
  def writePages(dir: Path, name: String, rs: Seq[Review], pageSize: Int = 25): Int = {
    Files.createDirectories(dir)
    val pages = rs.grouped(pageSize).toSeq
    pages.zipWithIndex.foreach { case (page, i) =>
      val body = page.map(reviewJson).mkString(
        s"""{"count":${page.size},"result":[""", ",", """],"sort_options":["relevance"]}""")
      Files.write(dir.resolve(f"$name-$i%05d.json"), body.getBytes(StandardCharsets.UTF_8))
    }
    pages.size
  }

  /** A truncated page: PERMISSIVE ingest keeps it as one corrupt record. */
  def writeCorruptPage(dir: Path, name: String): Unit =
    Files.write(dir.resolve(s"$name.json"),
      """{"count":2,"result":[{"review_id":1,"hotel_id":""".getBytes(StandardCharsets.UTF_8))

  /** ReviewIngest.pageQuery's answer recomputed from the generator's rows:
    * filters, then helpful votes desc, recency desc, id asc, first 25. */
  def expectedPage(rs: Iterable[Review], hotel: Long): Seq[Long] =
    rs.iterator
      .filter(v => v.hotel == hotel && pageLanguages(v.lang) && pageAuthorTypes(v.authorType))
      .toSeq
      .sortBy(v => (-v.votes, v.date, v.id))(Ordering.Tuple3(Ordering.Int, Ordering.String.reverse, Ordering.Long))
      .take(25).map(_.id)

  // ------------------------------------------------------------ lexicon

  private val posRe = Pattern.compile("\\b(fast|good|great)\\b")
  private val negRe = Pattern.compile("\\b(slow|bad|poor)\\b")
  private def hits(p: Pattern, s: String): Int = {
    val m = p.matcher(s.toLowerCase); var n = 0
    while (m.find()) n += 1
    n
  }
  /** graft.ml.LexiconScorer's label recomputed outside Spark. */
  def lexiconLabel(text: String): String = {
    val (p, n) = (hits(posRe, text), hits(negRe, text))
    if (p > n) "positive" else if (n > p) "negative" else "neutral"
  }
  /** The strong-marker label (margin >= 2), None when the margin is smaller. */
  def strongLabel(text: String): Option[String] = {
    val (p, n) = (hits(posRe, text), hits(negRe, text))
    if (p - n >= 2) Some("positive") else if (n - p >= 2) Some("negative") else None
  }

  // ------------------------------------------------------------ documents

  final case class Corpus(docs: IndexedSeq[(Long, String)], plantedPairs: Set[(Long, Long)])

  def shingleSet(text: String, n: Int = 3): Set[String] = {
    val t = text.toLowerCase.split("\\s+")
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.intersect(b).size
    i.toDouble / (a.size + b.size - i)
  }

  /** `n` documents over a Zipf vocabulary; a fifth of them are planted
    * near-duplicate clusters of 2-4 copies, each copy with 1-3 word
    * substitutions. Planted pairs are the within-cluster pairs whose exact
    * 3-shingle Jaccard is at least `minJaccard`. */
  def corpus(r: SplittableRandom, n: Int, minJaccard: Double): Corpus = {
    val vocabSize = 4000
    val vocab = Array.tabulate(vocabSize)(i => s"w${Integer.toString(i * 7919 % 99991, 36)}")
    val zipf = new Zipf(vocabSize, 1.0)
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    while (docs.size < n) {
      val base = Array.fill(60 + r.nextInt(60))(vocab(zipf.sample(r)))
      val copies = if (r.nextInt(5) == 0) 2 + r.nextInt(3) else 1
      val ids = (0 until math.min(copies, n - docs.size)).map { c =>
        val w = base.clone()
        if (c > 0) (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocabSize)))
        val id = docs.size.toLong
        docs += id -> w.mkString(" ")
        id
      }
      if (ids.size > 1) clusters += ids
    }
    val sh = docs.map { case (_, t) => shingleSet(t) }
    val planted = for {
      c <- clusters.iterator; a <- c; b <- c if a < b
      if jaccard(sh(a.toInt), sh(b.toInt)) >= minJaccard
    } yield (a, b)
    Corpus(docs.toIndexedSeq, planted.toSet)
  }

  /** Clustered embeddings: `centers` Gaussian centres, each vector its
    * centre plus isotropic noise. */
  def embeddings(r: SplittableRandom, n: Int, dim: Int, centers: Int): IndexedSeq[Array[Float]] = {
    def gauss(): Double = { // Box-Muller
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val cs = Array.fill(centers, dim)(gauss())
    (0 until n).map { _ =>
      val c = cs(r.nextInt(centers))
      Array.tabulate(dim)(j => (c(j) + 0.35 * gauss()).toFloat)
    }
  }
}
