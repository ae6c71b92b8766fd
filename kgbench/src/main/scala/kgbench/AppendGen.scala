package kgbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of append batches: new conversations in the
  * transcript shape (conv_id, turn_idx, role, text, tool, ts), written in
  * the extraction grammar (`define entity` / `alias` / `link` / `chain`,
  * segments joined by " ; ").
  *
  * The vocabulary (`module:`, `service:`, `team:`, `ghost:` names and
  * `b`-prefixed conversation ids) never occurs in the base corpus, whose
  * names are `customer:`/`part:`/`supplier:`/`category:`/`item:` and whose
  * conversations are `c<orderkey>`. So appending a batch adds triples only
  * inside the batch, and the batch's expected triples are known from the
  * batch alone.
  *
  * The generator keeps that expectation itself, single-threaded, while it
  * writes the text: it never parses the text back, so it is an oracle
  * independent of the engine's regexes, windows and joins.
  */
object AppendGen {

  final case class Turn(conv_id: String, turn_idx: Int, role: String,
      text: String, tool: String, ts: LocalDateTime)

  /** One resolved relation: the engine's triple key and value columns. */
  final case class Triple(conv: String, turn: Int, mention: Int, hop: Int,
      subj: String, pred: String, obj: String)

  /** Count and order-insensitive checksum of a triple set. */
  final case class Digest(count: Long, checksum: Long)

  final case class Batch(turns: Vector[Turn], expected: Digest, convPrefix: String)

  def digest(ts: Iterable[Triple]): Digest =
    Digest(ts.size.toLong, ts.iterator.map(hash).foldLeft(0L)(_ + _))

  private def hash(t: Triple): Long = {
    val s = s"${t.conv}|${t.turn}|${t.mention}|${t.hop}|${t.subj}|${t.pred}|${t.obj}"
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) ^ (lo.toLong & 0xffffffffL)
  }

  private val preds = Vector("calls", "owns", "depends_on", "reviews", "deploys")
  private val base = LocalDateTime.of(2031, 1, 1, 0, 0)

  /** Batch `batch` of the run seeded with `seed`: `nConvs` conversations
    * of `turns` turns each. */
  def batch(seed: Long, batch: Int, nConvs: Int, turns: Int): Batch = {
    val rnd = new SplittableRandom(seed * 1000003L + batch)
    val prefix = s"b${seed}x${batch}c"
    val out = Vector.newBuilder[Turn]
    // relations resolved in generation order; filtered by the batch-wide
    // vocabulary once every conversation is written
    val rels = mutable.ArrayBuffer.empty[Triple]
    val vocab = mutable.HashSet.empty[String]
    val names = 400 // per-batch name space, so conversations share entities
    def name(kind: String): String = s"$kind:${kind.head}${rnd.nextInt(names)}"

    for (c <- 0 until nConvs) {
      val conv = s"$prefix$c"
      var firstDef: String = null
      val alias = mutable.HashMap.empty[String, String]
      def resolve(ref: String): String =
        if (ref == "self") (if (firstDef != null) firstDef else ref)
        else alias.getOrElse(ref, ref)
      def aliasRef(): String = s"a${rnd.nextInt(4)}"
      // a ref is `self`, an alias (bound or not yet bound), or a name
      // that is usually defined somewhere in the batch
      def ref(): String = rnd.nextInt(6) match {
        case 0 => "self"
        case 1 | 2 => aliasRef()
        case 3 => name("ghost")
        case _ => name("module")
      }

      for (t <- 0 until turns) {
        val segs = mutable.ArrayBuffer.empty[String]
        def define(n: String, extra: String): Unit = {
          if (firstDef == null) firstDef = n
          vocab += n
          segs += s"define entity $n$extra"
        }
        if (t == 0) {
          segs += s"conversation opened by user ${rnd.nextInt(1000)}"
          define(name("service"), "")
        } else {
          for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(10) match {
            case 0 | 1 =>
              val parent = if (rnd.nextInt(3) == 0) name("team") else ""
              if (parent.nonEmpty) vocab += parent
              define(name("module"),
                (if (rnd.nextBoolean()) s" with qty=${rnd.nextInt(500)}" else "") +
                  (if (parent.nonEmpty) s" extends $parent" else ""))
            case 2 | 3 =>
              val (a, target) = (aliasRef(), name("module"))
              alias(a) = target
              segs += s"alias $a => $target"
            case 4 | 5 | 6 =>
              val (s, p, o) = (ref(), preds(rnd.nextInt(preds.size)), ref())
              rels += Triple(conv, t, segs.size, 0, resolve(s), p, resolve(o))
              segs += s"link $s -[$p]-> $o"
            case 7 =>
              val (s, p1, m) = (ref(), preds(rnd.nextInt(preds.size)), ref())
              val (p2, o) = (preds(rnd.nextInt(preds.size)), ref())
              rels += Triple(conv, t, segs.size, 0, resolve(s), p1, resolve(m))
              rels += Triple(conv, t, segs.size, 1, resolve(m), p2, resolve(o))
              segs += s"chain $s -[$p1]-> $m -[$p2]-> $o"
            case _ =>
              segs += s"note about step ${rnd.nextInt(100)} of the plan"
          }
        }
        out += Turn(conv, t, if (t % 2 == 0) "user" else "assistant",
          segs.mkString(" ; "), if (t % 2 == 0) "" else "planner",
          base.plusSeconds(c * 3600L + t * 7L))
      }
    }
    Batch(out.result(), digest(rels.filter(r => vocab.contains(r.obj))), prefix)
  }
}
