package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Shows each output check accepting a right answer and rejecting planted
  * wrong ones. Needs no engine: the answers are made from the models. */
object SelfTest {
  private val results = Seq.newBuilder[(String, Boolean)]
  private def expect(name: String, ok: Boolean): Unit = results += ((name, ok))

  def run(): Boolean = {
    registry(); canary(); corpus()
    val all = results.result()
    all.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    all.forall(_._2)
  }

  private def registry(): Unit = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get("BENCHMARK.json")))
    def list(key: String, field: String) = j.get(key).elements().asScala.map(_.get(field).asText).toList
    expect("registry: BENCHMARK.json names every per-layer metric a traced run prints, with its unit",
      list("per_layer", "name").zip(list("per_layer", "unit")) == Main.PerLayer.toList)
    expect("registry: BENCHMARK.json names every end-to-end metric an untraced run prints, with its unit",
      list("end_to_end", "name").zip(list("end_to_end", "unit")).toSet == Main.EndToEnd.toSet)
  }

  private def canary(): Unit = {
    val gen = new CanaryGen(7, 400)
    val model = new CanaryModel(gen)
    val wms = (0 until 30).map { k => model.offer(gen.minute(k)); model.watermarkMs }
    val want = model.transitions(wms.last)
    expect("canary: the schedule plants threshold and missing-data breaches",
      want.exists(_.reason == "threshold") && want.exists(_.reason == "missing_data"))
    def rejects(sink: Seq[Transition]) = !CanaryModel.check(sink, want, wms).forall(identity)
    expect("canary: the model's own transitions pass", !rejects(want))
    expect("canary: a missing transition is rejected", rejects(want.tail))
    expect("canary: a duplicated transition is rejected", rejects(want :+ want.head))
    expect("canary: a wrong reason is rejected",
      rejects(want.head.copy(reason = "threshold", to = "ALARM") +: want.tail))
    expect("canary: a transition a period late is rejected",
      rejects(want.head.copy(atMs = want.head.atMs + 60000L) +: want.tail))
  }

  private def corpus(): Unit = {
    val gen = new CorpusGen(7)
    val (docs, planted) = gen.generate
    val k = 300
    val budget = 60000L
    val check = new CorpusCheck(docs, planted, k, budget)
    val right = check.plantedRows
    expect("corpus: the planted pairs pass", check.dedup(right).isEmpty)
    expect("corpus: a wrong Jaccard is rejected",
      check.dedup(right.updated(0, right.head.copy(_3 = right.head._3 - 0.0001))).nonEmpty)
    expect("corpus: a wrong copy count is rejected",
      check.dedup(right.updated(0, right.head.copy(_4 = right.head._4 + 1))).nonEmpty)
    expect("corpus: a missed planted pair is rejected", check.dedup(right.tail).nonEmpty)
    val (x, y) = (docs(0).id, docs(1).id)
    expect("corpus: a pair below the threshold is rejected",
      check.dedup(right :+ (x, y, check.jaccard(docs(0).text, docs(1).text), 1L, 1L)).nonEmpty)

    // a right manifest: one language's first documents in the budget order
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("n_tokens", LongType),
      StructField("quality_q4", LongType), StructField("cap_rk", LongType),
      StructField("start_offset", LongType)))
    val en = docs.filter(_.lang == "en").groupBy(_.text).values.map(_.minBy(_.id)).toSeq
      .sortBy(d => (CorpusCheck.md5Hex("tb:" + d.id), d.id)).take(20)
    val offsets = en.map(_.text.split(" ", -1).length.toLong).scanLeft(0L)(_ + _)
    val rows: Seq[Row] = en.zipWithIndex.map { case (d, i) =>
      new GenericRowWithSchema(Array[Any](d.id, d.source, d.lang,
        offsets(i + 1) - offsets(i), 6000L, i + 1L, offsets(i)), schema)
    }
    def edit(i: Int, field: Int, v: Any): Seq[Row] =
      rows.updated(i, new GenericRowWithSchema(rows(i).toSeq.updated(field, v).toArray, schema))
    expect("corpus: a right manifest passes", check.curation(rows).isEmpty)
    expect("corpus: a wrong token count is rejected", check.curation(edit(3, 3, 1L)).nonEmpty)
    expect("corpus: a document under the quality gate is rejected", check.curation(edit(3, 4, 4999L)).nonEmpty)
    expect("corpus: a cap rank past the cap is rejected", check.curation(edit(3, 5, k + 1L)).nonEmpty)
    expect("corpus: a shifted budget offset is rejected", check.curation(edit(3, 6, rows(3).getLong(6) + 1)).nonEmpty)
    val copy = docs.groupBy(_.text).values.find(g => g.size > 1 && g.head.lang == "en").get
    val dup = copy.map(d => new GenericRowWithSchema(Array[Any](d.id, d.source, d.lang,
      d.text.split(" ", -1).length.toLong, 6000L, 1L, 0L), schema): Row)
    expect("corpus: two admitted copies of one text are rejected",
      check.curation(dup).exists(_.contains("normalized text")))
  }
}
