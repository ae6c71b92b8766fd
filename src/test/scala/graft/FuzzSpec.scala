package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.extract.Extract
import graft.graph.Pipeline
import graft.link.Resolve
import graft.schema.Mention
import graft.streaming.StatefulResolve
import graft.triples.Triples
import graft.oracle.RefOracle

/** Property-style fuzz: random corpora drawn from the grammar space (plus
  * narration noise and malformed segments) must produce exactly the
  * oracle's triple set — generalizes ParitySpec beyond the synthetic
  * generator's shapes. Seeded, so failures reproduce. Every resolution
  * path runs on the same corpora: the batch resolver, the stateful
  * resolver and the append-incremental build. */
class FuzzSpec extends SparkSpec {

  private val ents = (0 until 8).map(i => s"t:e$i")
  private val preds = Seq("uses", "calls", "relates_to")

  private def genCorpus(rnd: Random): Seq[RefOracle.T] = {
    (0 until (2 + rnd.nextInt(4))).flatMap { c =>
      val convId = s"f$c"
      (0 until (3 + rnd.nextInt(7))).map { t =>
        def ref = rnd.nextInt(3) match {
          case 0 => "self"
          case 1 => s"a${rnd.nextInt(3)}"
          case _ => ents(rnd.nextInt(ents.size))
        }
        val segs = (0 to rnd.nextInt(2)).map { _ =>
          rnd.nextInt(9) match {
            case 0 => s"define entity ${ents(rnd.nextInt(ents.size))}"
            case 1 => s"define entity ${ents(rnd.nextInt(ents.size))} with qty=${rnd.nextInt(100)}"
            case 2 => s"alias a${rnd.nextInt(3)} => ${ents(rnd.nextInt(ents.size))}"
            case 3 =>
              s"link $ref -[${preds(rnd.nextInt(preds.size))}]-> $ref"
            case 4 => "some narration noise"
            case 5 => // extends clause; parents drawn from the SAME entity
              // namespace so fuzz exercises relations targeting a
              // parent-only-defined entity (knownOnly must keep them)
              s"define entity ${ents(rnd.nextInt(ents.size))} with qty=${rnd.nextInt(100)} extends ${ents(rnd.nextInt(ents.size))}"
            case 6 => // two-hop chain (1 segment -> 2 relation mentions)
              s"chain $ref -[${preds(rnd.nextInt(preds.size))}]-> $ref -[${preds(rnd.nextInt(preds.size))}]-> $ref"
            case 7 => s"ref #${rnd.nextInt(2000)}" // issue cross-reference (narration to the grammar)
            case _ => "link broken -> syntax [x]" // malformed
          }
        }
        RefOracle.T(convId, t, segs.mkString(" ; "))
      }
    }
  }

  private type Triple = (String, String, String)

  /** The 12 seeded corpora every path below runs on. */
  private lazy val corpora: Seq[Seq[RefOracle.T]] = {
    val rnd = new Random(42)
    Seq.fill(12)(genCorpus(rnd))
  }

  private def df(corpus: Seq[RefOracle.T]): DataFrame =
    turns(corpus.map(t => (t.convId, t.turnIdx, t.text)): _*)

  private def tripleSet(triples: DataFrame): Set[Triple] =
    triples.select("subj", "pred", "obj").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** Runs `path` on every corpus and compares it with the oracle. */
  private def matchesOracle(path: (Seq[RefOracle.T], Int) => Set[Triple]): Unit =
    corpora.zipWithIndex.foreach { case (corpus, i) =>
      assert(path(corpus, i) === RefOracle.triples(corpus),
        s"iteration $i diverged; corpus:\n${corpus.map(t => s"${t.convId}/${t.turnIdx}: ${t.text}").mkString("\n")}")
    }

  test("engine matches the reference-semantics oracle on 12 random corpora") {
    matchesOracle { (corpus, _) =>
      val m = Extract.mentions(df(corpus))
      tripleSet(Triples.knownOnly(Resolve.resolved(m), Triples.entityNames(m)))
    }
  }

  test("stateful resolver, run as a batch, matches the oracle on the same 12 corpora") {
    import spark.implicits._
    matchesOracle { (corpus, _) =>
      val m = Extract.mentions(df(corpus))
      tripleSet(Triples.knownOnly(
        StatefulResolve.resolve(spark, m.as[Mention]).toDF(), Triples.entityNames(m)))
    }
  }

  test("append of a random conversation split matches the oracle on the same 12 corpora") {
    matchesOracle { (corpus, i) =>
      val rnd = new Random(i)
      val convs = rnd.shuffle(corpus.map(_.convId).distinct)
      val committed = convs.take(1 + rnd.nextInt(convs.size - 1)).toSet
      val (old, neu) = corpus.partition(t => committed(t.convId))
      val m = Extract.mentions(df(old))
      tripleSet(Pipeline.appendBatch(m, Resolve.resolved(m), df(neu))._3)
    }
  }
}
