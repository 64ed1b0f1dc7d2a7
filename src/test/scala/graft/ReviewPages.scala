package graft

import java.nio.file.{Files, Path}

/** Review-API pages for hermetic pipeline tests: each page is one JSON
  * document in the `{count, result[], sort_options[]}` shape of
  * [[Schemas.envelopeSchema]], the form `ReviewIngest.readEnvelope` reads. */
object ReviewPages {
  val hotels: Seq[Long] = Seq(1676161L, 2042141L, 3100077L)
  private val texts = Seq(
    ("Great stay", "good breakfast, fast check-in", "nothing"),
    ("Tired rooms", "location", "slow lift, bad wifi, poor cleaning"),
    ("Average", "quiet street", "small desk"))

  /** One review as the API emits it, with `''` for absent optional strings. */
  def review(id: Long, i: Int): String = {
    val (title, pros, cons) = texts(i % texts.size)
    s"""{"review_id":$id,"review_hash":"h$id","hotel_id":${hotels(i % hotels.size)},""" +
      f""""date":"2024-03-${i % 28 + 1}%02d 10:15:00","title":"$title","pros":"$pros","cons":"$cons",""" +
      s""""languagecode":"${Seq("en-gb", "de", "fr")(i % 3)}","helpful_vote_count":${i % 7},""" +
      s""""anonymous":"","travel_purpose":"leisure","hotelier_response":"",""" +
      s""""author":{"type":"solo_traveller","age_group":"","city":"","name":"Guest $id","user_id":$id},""" +
      s""""stayed_room_info":{"room_id":7,"checkin":"2024-03-01","checkout":"2024-03-03","num_nights":2},""" +
      s""""tags":["tag"]}"""
  }

  /** Writes reviews `firstId until firstId + n` as pages of up to `perPage`
    * into `dir` (created if absent) and returns it. */
  def write(dir: Path, n: Int, firstId: Long = 1L, perPage: Int = 10): Path = {
    Files.createDirectories(dir)
    (0 until n).grouped(perPage).zipWithIndex.foreach { case (page, p) =>
      val result = page.map(i => review(firstId + i, i)).mkString(",")
      Files.writeString(dir.resolve(s"page-$firstId-$p.json"),
        s"""{"count":${page.size},"result":[$result],"sort_options":["relevance"]}""")
    }
    dir
  }

  /** Writes one page holding `ids` in order (repeats kept) into `dir`
    * (created if absent), each review as [[write]] renders it from
    * `firstId = 1`, and returns `dir`. */
  def writePage(dir: Path, ids: Seq[Long]): Path = {
    Files.createDirectories(dir)
    val result = ids.map(id => review(id, (id - 1).toInt)).mkString(",")
    Files.writeString(dir.resolve(s"page-${ids.head}.json"),
      s"""{"count":${ids.size},"result":[$result],"sort_options":["relevance"]}""")
    dir
  }

  /** [[write]] into a new temp dir. */
  def write(n: Int): Path = write(Files.createTempDirectory("graft-pages"), n)
}
