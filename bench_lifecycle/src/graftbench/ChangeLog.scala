package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.Row

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded change-log generator that folds its own expected final state.
  *
  * Entries follow the Simgen `changeLog` mix: inserts, v2-diff updates
  * (`$set int64`), v1 `$inc seq` updates, deletes, `applyOps`
  * transactions (an update of one key plus a delete of another, sharing
  * the commit ts) and skip fodder (`local.junk` inserts and `n` no-ops),
  * in a fixed cycle so the mix does not vary with the seed. Each file
  * draws its keys from a pool about a third its size, so a key takes
  * several ops per file. Every entry has its own increasing
  * ts. The expected state is kept as plain JSON trees, mutated here by
  * the documented op semantics, never by the engine's fold. */
final class ChangeLog(seed: Long, val ns: String, seedDocs: Int, keySpace: Int) {
  private val mapper = new ObjectMapper()
  private val Colors = Seq("red", "orange", "yellow", "green", "blue", "indigo", "violet")
  private val tag = new SplittableRandom(seed ^ 0x636c6f67L).nextInt() & 0x7fffffff
  private val db = ns.takeWhile(_ != '.')
  private var tick = 0L
  /** key index -> current doc (absent = not in the table). */
  val state = mutable.LinkedHashMap.empty[Int, ObjectNode]

  def idHex(k: Int): String = f"$tag%08x$k%016x"
  def idJson(k: Int): String = "\"" + idHex(k) + "\""

  private def letters(r: SplittableRandom, n: Int): String = {
    val b = new StringBuilder(n)
    (0 until n).foreach(_ => b.append(('a' + r.nextInt(26)).toChar))
    b.toString
  }

  private def newDoc(k: Int, r: SplittableRandom): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("_id", idHex(k))
    o.put("color", Colors(r.nextInt(Colors.size)))
    o.put("int64", r.nextLong(1L << 40))
    o.put("seq", k.toLong)
    o.put("string", f"$k%06d-${r.nextInt(1000000)}%06d")
    o.put("filler", letters(r, 600))
    val l1 = o.putObject("subdoc").putObject("level1")
    l1.put("color", Colors(r.nextInt(Colors.size)))
    l1.put("seq", k.toLong)
    o
  }

  /** The seeded table: (id, doc) of keys [0, seedDocs). Call once, first. */
  def initial(): Seq[(String, String)] = {
    val r = new SplittableRandom(seed * 31 + 7)
    (0 until seedDocs).map { k =>
      val d = newDoc(k, r)
      state(k) = d
      idJson(k) -> d.toString
    }
  }

  /** Op kinds of the data slots, cycled so every file of a given size has
    * the same mix whatever the seed; each 13-entry cycle also carries one
    * `local.junk` insert and one `n` no-op (skip fodder). */
  private val Pattern = IndexedSeq("i", "u2", "u1", "u2", "d", "c", "u2", "u1", "i", "u2", "u1")

  /** One change-log file of `entries` entries (rows in the Oplog wire
    * schema: ts, op, ns, o, o2, h, t, v). Also returns the bytes of the
    * docs the file leaves present among the keys it touched: what one
    * merge of this file upserts. */
  def file(entries: Int, r: SplittableRandom): (Seq[Row], Long) = {
    val pool = Array.fill(math.max(4, entries / 3))(r.nextInt(keySpace))
    val touched = mutable.Set.empty[Int]
    /** A pool key in the wanted state, else any key in that state. */
    def pick(present: Boolean, not: Int = -1): Int = {
      val start = r.nextInt(pool.length)
      (0 until pool.length).map(i => pool((start + i) % pool.length))
        .find(k => state.contains(k) == present && k != not)
        .getOrElse {
          var k = r.nextInt(keySpace)
          while (state.contains(k) != present || k == not) k = (k + 1) % keySpace
          k
        }
    }
    var slot = 0
    val rows = (0 until entries).map { j =>
      tick += 1
      val ts = (1700000000L + tick) << 32
      def row(op: String, ns: String, o: String, o2: String) =
        Row(ts, op, ns, o, o2, 0L, 0L, 2)
      j % 13 match {
        case 0 => row("i", "local.junk", """{"_id":"junk"}""", null)
        case 1 => row("n", "", null, null)
        case _ =>
          val kind = Pattern(slot % Pattern.size)
          slot += 1
          if (kind == "i") {
            val k = pick(present = false)
            touched += k
            val d = newDoc(k, r)
            state(k) = d
            row("i", ns, d.toString, null)
          } else {
            val k = pick(present = true)
            touched += k
            val d = state(k)
            val o2 = s"""{"_id":${idJson(k)}}"""
            kind match {
              case "d" =>
                state.remove(k)
                row("d", ns, o2, null)
              case "c" =>
                val other = pick(present = true, not = k)
                touched += other
                d.put("birth_year", 1963)
                state.remove(other)
                row("c", s"$db.$$cmd",
                  s"""{"applyOps":[{"op":"u","ns":"$ns","o":{"diff":{"u":{"birth_year":1963}}},"o2":{"_id":${idJson(k)}}},""" +
                    s"""{"op":"d","ns":"$ns","o":{"_id":${idJson(other)}},"o2":{"_id":${idJson(other)}}}]}""",
                  null)
              case "u1" =>
                d.put("seq", d.get("seq").asLong() + 10)
                row("u", ns, """{"$v":1,"$inc":{"seq":10}}""", o2)
              case _ =>
                val x = r.nextLong(1L << 40)
                d.put("int64", x)
                row("u", ns, s"""{"diff":{"u":{"int64":$x}}}""", o2)
            }
          }
      }
    }
    val docBytes = touched.toSeq.flatMap(state.get).map(_.toString.getBytes("UTF-8").length.toLong).sum
    (rows, docBytes)
  }

  /** Expected table: id JSON -> doc tree. */
  def expected: Map[String, ObjectNode] = state.map { case (k, d) => idJson(k) -> d }.toMap

  /** Keys whose table doc differs from the expected state (missing,
    * extra or different), and the number of keys checked. */
  def diff(actual: Seq[(String, String)]): (Long, Long) = {
    val exp = expected
    val act = actual.groupBy(_._1)
    val keys = exp.keySet ++ act.keySet
    val bad = keys.count { k =>
      (exp.get(k), act.get(k)) match {
        case (Some(e), Some(Seq((_, doc)))) => mapper.readTree(doc) != mapper.readTree(e.toString)
        case _ => true
      }
    }
    (bad.toLong, keys.size.toLong)
  }
}
