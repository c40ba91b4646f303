package graft.sync

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.config._
import graft.table.IceliteTable

/** Property: `ChangeStreamSync.processBatch` over random change batches
  * ends in the state a pure-Scala last-writer-wins replay of the same
  * events predicts — table rows, quarantine count, resume token and the
  * invalidated flag. Batches repeat keys, delete and re-insert them,
  * carry one malformed post-image, and sometimes a novel top-level
  * field or a control event.
  */
class ChangeStreamLwwSpec extends AnyFunSuite with SparkFixture {

  private final case class Event(seq: Long, op: String, key: Option[String], doc: Option[String])

  /** One generated case: the events of two consecutive micro-batches. */
  private final case class Case(batches: Seq[Seq[Event]])

  /** (v, tag, extra) per live key. */
  private type Image = (Long, String, Option[String])

  private val Keys = (0 until 6).map(i => s"k$i")
  private val Initial: Map[String, Image] = Keys.take(4).map(_ -> ((0L, "init", None: Option[String]))).toMap
  private val Malformed = "{not json"

  private def docJson(key: String, v: Long, tag: String, extra: Option[String]): String =
    s"""{"_id":"$key","v":{"$$numberLong":"$v"},"tag":"$tag"""" +
      extra.map(e => s""","extra":"$e"""").getOrElse("") + "}"

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(4, 14)
    picks <- Gen.listOfN(n, Gen.zip(Gen.choose(0, Keys.size - 1),
      Gen.frequency(3 -> "insert", 4 -> "update", 1 -> "replace", 3 -> "delete"),
      Gen.oneOf("a", "b", "c")))
    malformedAt <- Gen.choose(0, n - 1)
    novelAt <- Gen.option(Gen.choose(0, n - 1))
    ctrlAt <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.choose(0, n).map(Some(_)))
    split <- Gen.choose(0, n)
  } yield {
    // seqs are assigned once the control event has its place
    val changes: Seq[Long => Event] = picks.zipWithIndex.map { case ((k, op, tag), i) =>
      val key = Keys(k)
      (seq: Long) =>
        if (i == malformedAt) Event(seq, "update", Some(key), Some(Malformed))
        else if (op == "delete") Event(seq, op, Some(key), None)
        else Event(seq, op, Some(key),
          Some(docJson(key, seq, tag, if (novelAt.contains(i)) Some(s"x$seq") else None)))
    }
    val ctrl: Long => Event = seq => Event(seq, "drop", None, None)
    val slots = ctrlAt.fold(changes)(at => (changes.take(at) :+ ctrl) ++ changes.drop(at))
    val events = slots.zipWithIndex.map { case (mk, i) => mk(i + 1L) }
    Case(Seq(events.take(split), events.drop(split)))
  }

  /** What the replay predicts after every batch was offered. */
  private final case class Model(
      state: Map[String, Image], quarantined: Long, token: Option[Long],
      invalidated: Boolean, widened: Boolean)

  private def replay(c: Case): Model =
    c.batches.foldLeft(Model(Initial, 0L, None, invalidated = false, widened = false)) { (m, batch) =>
      if (m.invalidated) m
      else batch.find(_.op == "drop") match {
        case Some(ctrl) => m.copy(token = Some(ctrl.seq), invalidated = true)
        case None if batch.isEmpty => m
        case None =>
          val finals = batch.groupBy(_.key.get).values.map(_.maxBy(_.seq))
          finals.foldLeft(m.copy(token = Some(batch.map(_.seq).max))) { (s, e) =>
            val key = e.key.get
            e.doc match {
              case None => s.copy(state = s.state - key)
              case Some(Malformed) => s.copy(quarantined = s.quarantined + 1)
              case Some(json) =>
                val extra = "\"extra\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))
                val tag = "\"tag\":\"([^\"]*)\"".r.findFirstMatchIn(json).get.group(1)
                s.copy(state = s.state + (key -> ((e.seq, tag, extra))),
                  widened = s.widened || extra.isDefined)
            }
          }
      }
    }

  private val TableSchema = StructType(Seq(
    StructField("_id", StringType), StructField("v", LongType), StructField("tag", StringType)))

  test("processBatch over random change batches equals a pure-Scala LWW replay") {
    val cases = (0 until 10).flatMap(i => caseGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.size == 10)
    // the fixed seeds cover every branch the property is about
    val models = cases.map(replay)
    assert(models.exists(_.invalidated) && models.exists(!_.invalidated))
    assert(models.exists(_.widened) && models.exists(_.quarantined > 0))

    cases.zip(models).zipWithIndex.foreach { case ((c, expected), i) =>
      val wh = Files.createTempDirectory("lww-wh").toString
      val cfg = CollectionSyncConfig(SourceConfig("orders"), TargetConfig("analytics", s"lww$i"),
        batch = BatchConfig(maxRecords = 8, maxBytes = 1 << 20, flushIntervalSeconds = 1))
      val table = IceliteTable.create(spark, wh, "analytics", s"lww$i", TableSchema)
      table.append(spark.createDataFrame(
        java.util.Arrays.asList(Initial.toSeq.map { case (k, (v, t, _)) => Row(k, v, t) }: _*),
        TableSchema))
      val checkpoints = new CheckpointStore(spark, wh)
      val metrics = new SyncMetrics
      val cs = new ChangeStreamSync(spark, cfg, table, checkpoints, "shop", metrics)
      c.batches.zipWithIndex.foreach { case (batch, b) =>
        val rows = batch.map(e => Row(e.seq, e.op, e.key.orNull, e.doc.orNull, null))
        cs.processBatch(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), ChangeStreamSync.EventSchema), batchId = b.toLong)
      }

      val ctx = s"case $i: ${c.batches.map(_.map(e => s"${e.seq}:${e.op}:${e.key.getOrElse("-")}" +
        e.doc.map(d => if (d == Malformed) "!" else if (d.contains("extra")) "+" else "").getOrElse(""))
        .mkString(" ")).mkString(" | ")}"
      table.refresh()
      val widened = table.schema.fieldNames.contains("extra")
      assert(widened == expected.widened, ctx)
      val got = table.read()
        .select("_id", ("v" +: "tag" +: (if (widened) Seq("extra") else Nil)): _*)
        .collect().map { r =>
          r.getString(0) -> ((r.getLong(1), r.getString(2),
            if (widened) Option(r.getString(3)) else None))
        }.toMap
      assert(got == expected.state, ctx)
      assert(metrics.of(cfg.target.qualifiedName).quarantined.sum() == expected.quarantined, ctx)
      assert(checkpoints.read(cfg.target.qualifiedName).flatMap(_.resumeToken) == expected.token, ctx)
      assert(cs.invalidated == expected.invalidated, ctx)
    }
  }
}
