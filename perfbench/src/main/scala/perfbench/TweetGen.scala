package perfbench

/** Seeded tweet-envelope generator shared by the `ingest` and `api`
  * workloads. Lines have the raw Kafka envelope shape the pipeline parses
  * (`graft.streaming.Schemas.envelope`).
  *
  * Every draw is a pure function of (seed, line index, draw slot), so line
  * `i` never depends on how many lines were made before it, and the same
  * seed always gives byte-identical output. The only value taken from the
  * caller is `kafka_timestamp`: the open-loop generator stamps each line
  * with the time it is due.
  *
  * Shares are per line and independent:
  *   - `malformed`: a truncated JSON line, which the pipeline quarantines;
  *   - `duplicate`: a re-send of an earlier line's envelope (same id,
  *     same content), which dedup drops;
  *   - `nonEnglish`: `lang` other than "en", which the language filter drops;
  *   - `blank`: empty or whitespace-only text, which the filter drops.
  */
final case class Shares(malformed: Double, duplicate: Double,
    nonEnglish: Double, blank: Double)

final class TweetGen(seed: Long, shares: Shares) {
  import TweetGen._

  /** Uniform double in [0, 1) for draw `slot` of line `i`. */
  private def u(i: Long, slot: Int): Double =
    (mix(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + slot) >>> 11).toDouble / (1L << 53)

  private def pick[T](xs: IndexedSeq[T], i: Long, slot: Int): T =
    xs((u(i, slot) * xs.length).toInt)

  private def chance(p: Double, i: Long, slot: Int): Boolean = u(i, slot) < p

  sealed trait Kind
  case object Fresh extends Kind
  case object Malformed extends Kind
  final case class Duplicate(of: Long) extends Kind

  def kind(i: Long): Kind =
    if (chance(shares.malformed, i, 1)) Malformed
    else if (i > 0 && chance(shares.duplicate, i, 2)) {
      // re-send a recent fresh line; give up (stay fresh) after a few tries
      val back = (1 to 8).iterator.map { k =>
        i - 1 - (u(i, 2 + k) * math.min(i, DupWindow)).toLong
      }.find(j => kind(j) == Fresh)
      back.map(Duplicate(_)).getOrElse(Fresh)
    } else Fresh

  /** The tweet id line `i` carries when it is fresh. */
  def id(i: Long): String = (IdBase + (seed & 0xFFFF) * 1000000000L + i).toString

  def lang(i: Long): String =
    if (chance(shares.nonEnglish, i, 20)) pick(OtherLangs, i, 21) else "en"

  /** Tweet text of line `i`: sentiment-bearing words, negations, caps,
    * emoji, `RT @user:` prefixes, URLs and hashtags. */
  def text(i: Long): String = {
    if (chance(shares.blank, i, 30)) return pick(Blanks, i, 31)
    val n = 4 + (u(i, 32) * 10).toInt
    val words = (0 until n).map { k =>
      val r = u(i, 100 + k)
      val w =
        if (r < 0.30) pick(Positive, i, 200 + k)
        else if (r < 0.55) pick(Negative, i, 200 + k)
        else if (r < 0.65) pick(Negations, i, 200 + k)
        else pick(Neutral, i, 200 + k)
      if (chance(0.08, i, 300 + k)) w.toUpperCase else w
    }
    val b = new StringBuilder
    if (chance(0.2, i, 33)) b ++= s"RT @${pick(Users, i, 34)}: "
    b ++= words.mkString(" ")
    if (chance(0.3, i, 35)) b ++= pick(Marks, i, 36)
    if (chance(0.25, i, 37)) b ++= " " + pick(Emoji, i, 38)
    if (chance(0.15, i, 39)) b ++= f" https://t.co/${(u(i, 40) * 1e9).toLong}%09d"
    if (chance(0.3, i, 41)) b ++= " #" + pick(Hashtags, i, 42)
    b.toString
  }

  /** The envelope JSON of a fresh line `i`, due at `dueMs`. */
  def envelope(i: Long, dueMs: Long): String = {
    val author = (1000 + (u(i, 50) * 500).toLong).toString
    val user = pick(Users, i, 51)
    val metrics =
      if (chance(0.1, i, 52)) ""
      else s""","public_metrics":{"retweet_count":${(u(i, 53) * 50).toLong},""" +
        s""""like_count":${(u(i, 54) * 200).toLong},"reply_count":${(u(i, 55) * 20).toLong},""" +
        s""""quote_count":${(u(i, 56) * 5).toLong}}"""
    val created = java.time.Instant.ofEpochSecond(CreatedBase + i).toString
    s"""{"data":{"id":"${id(i)}","text":${quote(text(i))},"created_at":"$created",""" +
      s""""author_id":"$author","lang":"${lang(i)}"$metrics},""" +
      s""""includes":{"users":[{"id":"$author","name":"${user.capitalize} Fan",""" +
      s""""username":"$user","public_metrics":{"followers_count":${(u(i, 57) * 10000).toLong}}}]},""" +
      s""""kafka_timestamp":$dueMs}"""
  }

  /** Line `i` of the stream as sent, due at `dueMs`. */
  def line(i: Long, dueMs: Long): String = kind(i) match {
    case Fresh => envelope(i, dueMs)
    case Duplicate(j) => envelope(j, dueMs)
    case Malformed =>
      val full = envelope(i, dueMs)
      val cut = 10 + (u(i, 60) * (full.length / 2)).toInt
      // never split an emoji's surrogate pair: the line must survive UTF-8
      full.substring(0, if (full.charAt(cut - 1).isHighSurrogate) cut - 1 else cut)
  }
}

object TweetGen {
  private val IdBase = 1700000000000000000L
  private val CreatedBase = 1756735200L // 2025-09-01T14:00:00Z
  private val DupWindow = 500L

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val Positive = IndexedSeq("love", "great", "amazing", "happy", "best",
    "excited", "good", "wonderful", "awesome", "nice", "fantastic", "glad", "win")
  private val Negative = IndexedSeq("hate", "awful", "terrible", "sad", "worst",
    "bad", "angry", "horrible", "disappointed", "boring", "lost", "ugly", "pain")
  private val Negations = IndexedSeq("not", "never", "isn't", "don't", "no", "hardly")
  private val Neutral = IndexedSeq("the", "match", "today", "team", "game", "this",
    "is", "we", "watch", "new", "phone", "city", "update", "and", "really", "very",
    "so", "just", "season", "fans", "weather", "movie", "week", "it", "was")
  private val Marks = IndexedSeq("!", "!!!", "?", ".", "...")
  private val Emoji = IndexedSeq("😀", "😡", "❤️",
    "👍", "😢", ":)", ":(")
  private val Hashtags = IndexedSeq("premierleague", "worldcup", "tech", "news",
    "monday", "music", "election", "climate")
  private val Users = IndexedSeq("fan", "newsbot", "alice", "bob", "sportsdesk",
    "weatherman", "critic", "gamer")
  private val OtherLangs = IndexedSeq("es", "fr", "de", "ro", "pt", "ja")
  private val Blanks = IndexedSeq("", " ", "   ", "\t ")
}
