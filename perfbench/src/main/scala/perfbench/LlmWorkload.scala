package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Model.{ColumnMeta, Question, TestCase}
import graft.eval.Metrics
import graft.llm.{LlmOperator, MockLlmClient}
import graft.operators.StableMatcher
import graft.ops.{Parsers, PromptRenderer}

/** The `llm_latency` workload: seeded schema-matching questions sent through
  * the LLM operator against the emulated [[Endpoint]], then parsed,
  * validated, stably matched and scored, as in the paper's pipeline.
  */
object LlmWorkload {

  private val stems = Seq("patient", "visit", "admit", "discharge", "provider", "drug",
    "dose", "route", "unit", "code", "status", "amount", "charge", "payer", "ward",
    "diagnosis", "procedure", "birth", "death", "gender", "race", "zip", "city", "phone")
  private val suffixes = Seq("id", "date", "name", "type", "value", "flag", "desc", "key")
  private val types = Seq("int", "bigint", "string", "double", "date")

  /** One pipeline run's cases: `asked` adds the reruns to `cases`. */
  final case class Batch(name: String, cases: Seq[TestCase], asked: Seq[TestCase])

  /** The questions a batch sends: generation prompts for every asked case,
    * and forward/backward scoring questions for stable matching.
    */
  final case class Questions(generate: Seq[Question], forward: Seq[Question], backward: Seq[Question]) {
    def size: Int = generate.size + forward.size + backward.size
  }

  def render(b: Batch): Questions = Questions(
    b.asked.flatMap(tc => tc.targetSchema.map(t => PromptRenderer.n2oneQuestion(tc, t.name, Map.empty))),
    b.cases.flatMap(tc => tc.targetSchema.map(t => PromptRenderer.mcqQuestion(tc, t.name))),
    b.cases.flatMap { tc =>
      val swapped = tc.copy(sourceSchema = tc.targetSchema, targetSchema = tc.sourceSchema)
      tc.sourceSchema.map(c => PromptRenderer.mcqQuestion(swapped, c.name))
    })

  /** `nCases` seeded cases of `width` source columns. The target renames a
    * seeded 70% of the source columns (the gold mapping) and adds two
    * columns with no match. Every case's generation prompts are asked
    * twice, verbatim, as a two-run ensemble asks them: about a quarter of
    * all prompts repeat. The seed picks names, types and which columns map,
    * never how many, so every seed sends the same number of prompts.
    */
  def batch(name: String, seed: Long, nCases: Int, width: Int): Batch = {
    val rnd = new Random(seed)
    val cases = (0 until nCases).map { i =>
      val src = rnd.shuffle(for (s <- stems; x <- suffixes) yield s"${s}_$x").take(width)
        .map(n => ColumnMeta(n, types(rnd.nextInt(types.size))))
      val mappedNames = rnd.shuffle(src.map(_.name)).take(math.round(width * 0.7).toInt).toSet
      val mapped = src.filter(c => mappedNames(c.name))
      val extra = Seq(ColumnMeta("tgt_extra_0", "string"), ColumnMeta("tgt_extra_1", "string"))
      val tgt = rnd.shuffle(mapped.map(c => c.copy(name = "t_" + c.name)) ++ extra)
      TestCase(s"$name-case$i", src, tgt, mapped.map(c => c.name -> ("t_" + c.name)))
    }
    val reruns = cases.map(tc => tc.copy(id = tc.id + "#rerun"))
    Batch(name, cases, cases ++ reruns)
  }

  /** The workload's batches: three pipeline runs of different schema width. */
  def batches(seed: Long): Seq[Batch] = Seq(
    batch("llm_narrow", seed * 31 + 1, nCases = 4, width = 5),
    batch("llm_medium", seed * 31 + 2, nCases = 2, width = 9),
    batch("llm_wide", seed * 31 + 3, nCases = 1, width = 16))

  /** Frames of one run: the LLM stages' outputs, which the verification
    * pass checks against a replay, and the result.
    */
  final case class Run(generations: DataFrame, scores: DataFrame, result: DataFrame)

  private def questions(s: SparkSession, qs: Seq[Question]): Dataset[Question] = {
    import s.implicits._
    s.createDataset(qs).repartition(s.sparkContext.defaultParallelism)
  }

  /** Builds the pipeline. `boundary` is applied to each stage's output
    * before the next stage reads it: identity when untraced, an eager
    * materialization (timed as that layer) in a traced pass.
    */
  def run(s: SparkSession, b: Batch, boundary: (String, DataFrame) => DataFrame,
      rendered: Batch => Questions = render): Run = {
    import s.implicits._
    val qs = rendered(b)
    val factory = EmulatedFactory()
    val gens = boundary("llm", LlmOperator.generate(questions(s, qs.generate), factory).toDF())
    val schemaCols = b.cases.flatMap(tc => tc.sourceSchema.map(c => (tc.id, c.name)))
      .toDF("sc_case_id", "sc_col")
    // reruns answer for their base case: the ensemble keeps each distinct prediction once
    val predictions = boundary("ops.parse", gens.as[LlmOperator.Generation]
      .flatMap(g => Parsers.parseMatches(g.response).map(m => (g.caseId.stripSuffix("#rerun"), m, g.queryAttr)))
      .toDF("case_id", "src_attr", "tgt_attr")
      .join(schemaCols, $"case_id" === $"sc_case_id" && lower($"src_attr") === lower($"sc_col"), "left_semi")
      .distinct())
    def scored(qs: Seq[Question], dir: String) =
      LlmOperator.score(questions(s, qs), factory).toDF()
        .select($"caseId".as("case_id"), lit(dir).as("direction"), $"queryAttr".as("query_attr"),
          $"candAttr".as("cand_attr"), $"score")
    val scores = boundary("llm", scored(qs.forward, "fwd").unionByName(scored(qs.backward, "bwd")))
    val matches = boundary("operators.stable_match", StableMatcher.matchCases(scores, maxRounds = 3))
    val gold = b.cases.flatMap(tc => tc.goldMapping.map { case (sc, tg) => (tc.id, sc, tg) })
      .toDF("case_id", "src_attr", "tgt_attr")
    val caseIds = b.cases.map(_.id).toDF("case_id")
    // confusion counts from one full outer join, so each prediction frame
    // (and the LLM stage under it) is evaluated once
    def counts(method: String, pred: DataFrame): DataFrame = {
      val pairs = pred.select($"case_id", $"src_attr", $"tgt_attr", lit(true).as("p"))
        .join(gold.withColumn("g", lit(true)), Seq("case_id", "src_attr", "tgt_attr"), "full_outer")
        .groupBy($"case_id")
        .agg(count(when($"p" && $"g", 1)).as("tp"), count(when($"p" && $"g".isNull, 1)).as("fp"),
          count(when($"p".isNull && $"g", 1)).as("fn"))
      caseIds.join(pairs, Seq("case_id"), "left")
        .select($"case_id", lit(method).as("method"),
          coalesce($"tp", lit(0L)).cast("double").as("tp"),
          coalesce($"fp", lit(0L)).cast("double").as("fp"),
          coalesce($"fn", lit(0L)).cast("double").as("fn"), lit(0.0).as("tn"))
    }
    val result = Metrics.withPrfAccuracyEffort(
        counts("n2one", predictions).unionByName(counts("stable", matches)))
      .drop("tn", "accuracy2").orderBy($"case_id", $"method")
    Run(gens, scores, result)
  }

  /** Checks a run's answers against a direct [[MockLlmClient]] replay
    * outside Spark: every question must be answered exactly once, with the
    * replayed response or scores, and every case must have one result row
    * per method. Returns the mismatches, and how many of the generation
    * responses parsed to at least one column of the case's source schema.
    */
  def verify(b: Batch, r: Run): (Seq[String], Int) = {
    val qs = render(b)
    val mock = new MockLlmClient()
    val gens = r.generations.select("caseId", "queryAttr", "response").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getString(2)).toSeq
    val scores = r.scores.collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2)) -> (x.getString(3), x.getDouble(4))).toSeq
    val bad = Seq.newBuilder[String]
    val genBy = gens.groupBy(_._1)
    qs.generate.foreach { q =>
      val got = genBy.getOrElse((q.caseId, q.queryAttr), Nil).map(_._2)
      val want = mock.generate(Seq(q.prompt)).head
      if (got.size != 1) bad += s"${b.name}: generate ${q.caseId}/${q.queryAttr} answered ${got.size} times"
      else if (got.head != want) bad += s"${b.name}: generate ${q.caseId}/${q.queryAttr} differs from replay"
    }
    if (gens.size != qs.generate.size) bad += s"${b.name}: ${gens.size} generations for ${qs.generate.size} prompts"
    val scoreBy = scores.groupBy(_._1)
    for ((dir, dirQs) <- Seq("fwd" -> qs.forward, "bwd" -> qs.backward); q <- dirQs) {
      val got = scoreBy.getOrElse((q.caseId, dir, q.queryAttr), Nil).map(_._2).sorted
      val want = mock.scoreCandidates(q.prompt, q.candidates).sorted
      if (got != want) bad += s"${b.name}: score $dir ${q.caseId}/${q.queryAttr} differs from replay"
    }
    val expectScores = (qs.forward ++ qs.backward).map(_.candidates.size).sum
    if (scores.size != expectScores) bad += s"${b.name}: ${scores.size} scores, expected $expectScores"
    val rows = r.result.count()
    if (rows != 2L * b.cases.size) bad += s"${b.name}: $rows result rows, expected ${2 * b.cases.size}"
    val schema = b.asked.map(tc => tc.id -> tc.sourceSchema.map(_.name)).toMap
    val parsedOk = gens.count { case ((caseId, _), resp) =>
      Parsers.parseMatches(resp).exists(m => Parsers.columnInSchema(m, schema.getOrElse(caseId, Nil)))
    }
    (bad.result(), parsedOk)
  }
}
