package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One document of the simulated MongoDB collection. `code` is an int
  * in some documents and a string in others (auto-mode inference
  * promotes the column to string); `note` is missing from a share of
  * the documents; `promo` is the top-level field a few change events
  * introduce, so schema evolution fires.
  */
final case class Doc(
    id: String,
    tsMs: Long,
    cents: Long,
    code: Either[Int, String],
    note: Option[String],
    name: String,
    city: String,
    tier: Int,
    items: Vector[(String, Int)],
    status: String,
    promo: Option[String]) {

  /** MongoDB Extended JSON, one line. */
  def json: String = {
    val b = new StringBuilder(256)
    b ++= "{\"_id\":{\"$oid\":\"" ++= id ++= "\"}"
    b ++= ",\"ts\":{\"$date\":\"" ++= java.time.Instant.ofEpochMilli(tsMs).toString ++= "\"}"
    b ++= ",\"amount\":{\"$numberDecimal\":\"" ++= Gen.decimal(cents) ++= "\"}"
    b ++= ",\"customer\":{\"name\":\"" ++= name ++= "\",\"city\":\"" ++= city ++=
      "\",\"tier\":" ++= tier.toString ++= "}"
    b ++= ",\"items\":["
    items.iterator.zipWithIndex.foreach { case ((sku, qty), i) =>
      if (i > 0) b += ','
      b ++= "{\"sku\":\"" ++= sku ++= "\",\"qty\":" ++= qty.toString ++= "}"
    }
    b += ']'
    code match {
      case Left(n) => b ++= ",\"code\":" ++= n.toString
      case Right(s) => b ++= ",\"code\":\"" ++= s ++= "\""
    }
    note.foreach(n => b ++= ",\"note\":\"" ++= n ++= "\"")
    b ++= ",\"status\":\"" ++= status ++= "\""
    promo.foreach(p => b ++= ",\"promo\":\"" ++= p ++= "\"")
    b += '}'
    b.toString
  }

  /** The row's key fields as one string; its CRC32, summed over rows,
    * is the order-independent digest [[Checks.digest]] computes
    * on the table.
    */
  def canonical(withPromo: Boolean): String = {
    val code = this.code.fold(_.toString, identity)
    val base = Seq(id, tsMs.toString, cents.toString, code, note.getOrElse("~"), city,
      tier.toString, items.size.toString, items.map(_._2).sum.toString, status)
    (if (withPromo) base :+ promo.getOrElse("~") else base).mkString("|")
  }
}

/** Expected aggregate figures of a collection state. */
final case class Digest(rows: Long, sum: Long)

object Gen {
  val Statuses: Vector[String] = Vector("open", "paid", "shipped", "returned", "closed")
  val Cities: Vector[String] = (0 until 40).map(i => s"city$i").toVector

  def decimal(cents: Long): String = {
    val a = math.abs(cents)
    (if (cents < 0) "-" else "") + s"${a / 100}.${"%02d".format(a % 100)}"
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def digest(docs: Iterable[Doc], withPromo: Boolean): Digest =
    Digest(docs.size.toLong, docs.iterator.map(d => crc(d.canonical(withPromo))).sum)

  /** Write lines to one file, single-threaded. */
  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }
}

/** The simulated collection: documents by `_id`, the ids still live in
  * insertion slots (for skewed key choice), and a sorted view for
  * range expectations. Every change event the generator emits is
  * applied here first, so no deleted key is ever updated or replaced.
  */
final class Collection(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val idPrefix = "%08x".format((seed * 0x9E3779B9L + 0x5bd1e995L) & 0xffffffffL)
  private var nextId = 0L
  val docs = new java.util.TreeMap[String, Doc]()
  private val live = mutable.ArrayBuffer.empty[String]
  private val slot = mutable.HashMap.empty[String, Int]
  var withPromo = false

  private def newId(): String = {
    // multiplication by an odd constant is a bijection on 64-bit
    // words, so ids are unique and spread over the key space
    val x = nextId * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    nextId += 1
    idPrefix + "%016x".format(x)
  }

  private def body(id: String, promo: Option[String]): Doc = {
    val nItems = 1 + rnd.nextInt(5)
    Doc(
      id = id,
      tsMs = 1704067200000L + rnd.nextLong(31536000000L),
      cents = rnd.nextLong(1000000L),
      code = if (rnd.nextInt(2) == 0) Left(rnd.nextInt(1000)) else Right(s"k${rnd.nextInt(1000)}"),
      note = if (rnd.nextInt(10) < 3) None else Some(s"note${rnd.nextInt(100)}"),
      name = s"cust${rnd.nextInt(5000)}",
      city = Gen.Cities(rnd.nextInt(Gen.Cities.size)),
      tier = rnd.nextInt(4),
      items = Vector.fill(nItems)((s"sku${rnd.nextInt(500)}", 1 + rnd.nextInt(9))),
      status = Gen.Statuses(rnd.nextInt(Gen.Statuses.size)),
      promo = promo)
  }

  def size: Int = live.size

  def insert(promo: Option[String] = None): Doc = {
    val d = body(newId(), promo)
    docs.put(d.id, d)
    slot(d.id) = live.size
    live += d.id
    d
  }

  /** A live key, skewed towards low slots (hot keys). */
  def pickLive(): String = {
    val u = rnd.nextDouble()
    live(math.min(live.size - 1, (u * u * u * live.size).toInt))
  }

  /** A live key chosen uniformly. */
  def pickUniform(): String = live(rnd.nextInt(live.size))

  def update(id: String, promo: Option[String]): Doc = {
    val old = docs.get(id)
    val d = old.copy(cents = rnd.nextLong(1000000L),
      status = Gen.Statuses(rnd.nextInt(Gen.Statuses.size)),
      code = if (rnd.nextInt(2) == 0) Left(rnd.nextInt(1000)) else Right(s"k${rnd.nextInt(1000)}"),
      promo = promo.orElse(old.promo))
    docs.put(id, d)
    d
  }

  def replace(id: String, promo: Option[String]): Doc = {
    val d = body(id, promo)
    docs.put(id, d)
    d
  }

  def delete(id: String): Unit = {
    docs.remove(id)
    val i = slot.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; slot(last) = i }
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)

  def digest(): Digest = Gen.digest(docs.values().asScala, withPromo)
}

/** One change event as the log stores it. `fullDocument` is the
  * Extended JSON post-image, carried as a JSON string.
  */
final case class Event(seq: Long, op: String, id: String, doc: Option[Doc]) {
  def json: String = {
    val fd = doc.map(d => "\"" + d.json.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .getOrElse("null")
    s"""{"seq":$seq,"op":"$op","_id":"$id","fullDocument":$fd}"""
  }
}

object Events {
  /** Draw `n` events against `c`, applying each to the simulation:
    * inserts, updates, replaces and deletes over skewed keys; about
    * one upsert in `promoEvery` carries the new `promo` field.
    */
  def draw(c: Collection, firstSeq: Long, n: Int, promoEvery: Int): Vector[Event] =
    Vector.tabulate(n) { i =>
      val seq = firstSeq + i
      val r = c.nextInt(100)
      def promo(): Option[String] =
        if (promoEvery > 0 && c.nextInt(promoEvery) == 0) {
          c.withPromo = true
          Some(s"promo${c.nextInt(10)}")
        } else None
      if (r < 15 || c.size < 10) {
        val d = c.insert(promo())
        Event(seq, "insert", d.id, Some(d))
      } else if (r < 60) {
        val id = c.pickLive()
        Event(seq, "update", id, Some(c.update(id, promo())))
      } else if (r < 80) {
        val id = c.pickLive()
        Event(seq, "replace", id, Some(c.replace(id, promo())))
      } else {
        val id = c.pickLive()
        c.delete(id)
        Event(seq, "delete", id, None)
      }
    }

  /** Index of an event whose loss changes the final state: the last
    * event on its key. Used by the negative check that drops one
    * event from the log while the simulation keeps it.
    */
  def droppable(events: Seq[Event]): Int = {
    val lastOf = mutable.HashMap.empty[String, Int]
    events.iterator.zipWithIndex.foreach { case (e, i) => lastOf(e.id) = i }
    val mid = events.size / 2
    (mid until events.size).find(i => lastOf(events(i).id) == i && events(i).op != "insert")
      .orElse((mid until events.size).find(i => lastOf(events(i).id) == i))
      .getOrElse(events.size - 1)
  }

  /** Write a change log: `files` JSONL files, each with its own
    * increasing modification time, as a log written over time would
    * have (the file source orders files by modification time).
    */
  def writeLog(dir: Path, events: Seq[Event], files: Int, dropIndex: Option[Int]): Unit = {
    Files.createDirectories(dir)
    val per = math.max(1, (events.size + files - 1) / files)
    val t0 = 1704067200000L
    events.zipWithIndex.grouped(per).zipWithIndex.foreach { case (group, f) =>
      val p = dir.resolve("part-%05d.json".format(f))
      Gen.writeLines(p, group.iterator.filterNot { case (_, i) => dropIndex.contains(i) }
        .map(_._1.json))
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + f * 1000L))
    }
  }
}
