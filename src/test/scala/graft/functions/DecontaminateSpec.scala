package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DecontaminateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("decontaminate-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("wordNgramHashes: window identity, whitespace runs, short-text guard") {
    val a = Decontaminate.wordNgramHashes("the quick brown fox jumps", 3)
    assert(a.length == 3) // 5 tokens -> 3 trigram windows
    // any whitespace run tokenizes identically
    val b = Decontaminate.wordNgramHashes("the  quick\nbrown\t fox  jumps", 3)
    assert(a.toSeq == b.toSeq)
    // a shared window is a shared hash; a disjoint text shares none
    val c = Decontaminate.wordNgramHashes("quick brown fox entirely elsewhere", 3)
    assert(c.toSet.intersect(a.toSet).size == 1) // "quick brown fox"
    assert(Decontaminate.wordNgramHashes("one two", 3).isEmpty)
    assert(Decontaminate.wordNgramHashes(null, 3).isEmpty)
    assert(Decontaminate.wordNgramHashes("   ", 3).isEmpty)
  }

  test("contaminatedIds: flags exactly the docs sharing an n-gram with the benchmark") {
    val s = spark; import s.implicits._
    val bench = Seq((0L, "the secret evaluation question about spark catalyst rules"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim leak of a 5-gram
      (10L, "this page quotes the secret evaluation question about spark somewhere"),
      // same words, different order: no shared 5-gram window
      (11L, "question evaluation secret the about rules catalyst spark plans"),
      (12L, "completely unrelated content with nothing shared at all today")
    ).toDF("doc_id", "text")
    val got = Decontaminate.contaminatedIds(corpus, "doc_id", "text",
      bench, "text", n = 5).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(10L), s"got=$got")
  }

  test("contaminatedIds: corpus side never shuffles; benchmark is broadcast (100 TB contract)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val s = spark; import s.implicits._
      val bench = (0L until 5L).map(i => (i, s"benchmark text number $i with words")).toDF("doc_id", "text")
      val corpus = (10L until 60L).map(i => (i, s"corpus text number $i with other words")).toDF("doc_id", "text")
      val q = Decontaminate.contaminatedIds(corpus, "doc_id", "text", bench, "text", n = 3)
      val plan = q.queryExecution.executedPlan
      assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
        s"benchmark hashes must broadcast:\n$plan")
      // the only hash shuffles are ids-only (the final distinct and the
      // benchmark's own tiny distinct) — never the exploded corpus n-grams
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        val cols = e.output.map(_.name)
        assert(!cols.contains("text"),
          s"corpus payload rides a shuffle: $cols\n$plan")
        e.outputPartitioning match {
          case h: HashPartitioning =>
            val keys = h.expressions.flatMap(_.references.toSeq.map(_.name))
            assert(!(keys.contains("h") && cols.contains("id")),
              s"exploded corpus n-grams ride a shuffle: $cols\n$plan")
          case _ =>
        }
      }
      assert(q.count() >= 0)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("contaminatedIds: oversized benchmark falls back to a shuffled semi join (VERDICT r4)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // emulate the huge-benchmark case end-to-end: the gate drops OUR
    // broadcast hint, and the optimizer's own size stats (huge in
    // production, forced here) keep it from re-broadcasting on its own
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
      val s = spark; import s.implicits._
      val bench = Seq((0L, "the secret evaluation question about spark catalyst rules"))
        .toDF("doc_id", "text")
      val corpus = Seq(
        (10L, "this page quotes the secret evaluation question about spark somewhere"),
        (11L, "question evaluation secret the about rules catalyst spark plans"),
        (12L, "completely unrelated content with nothing shared at all today")
      ).toDF("doc_id", "text")
      // maxBroadcastHashes = 0 forces the fallback: the bench side must NOT
      // broadcast, and the verdicts must be identical to the broadcast path
      val fallback = Decontaminate.contaminatedIds(corpus, "doc_id", "text",
        bench, "text", n = 5, maxBroadcastHashes = 0L)
      assert(fallback.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec => b }.isEmpty,
        s"oversized benchmark must not broadcast:\n${fallback.queryExecution.executedPlan}")
      assert(fallback.collect().map(_.getLong(0)).toSeq == Seq(10L))
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("contaminatedIds leaves no cached RDD behind; repeated calls agree") {
    val s = spark; import s.implicits._
    val bench = Seq((0L, "the secret evaluation question about spark catalyst rules"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "this page quotes the secret evaluation question about spark somewhere"),
      (11L, "question evaluation secret the about rules catalyst spark plans"),
      (12L, "completely unrelated content with nothing shared at all today")
    ).toDF("doc_id", "text")
    val runs = (1 to 3).map { _ =>
      Decontaminate.contaminatedIds(corpus, "doc_id", "text", bench, "text", n = 5)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(runs.forall(_ == Seq(10L)), s"runs=$runs")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"cached RDDs left behind: ${spark.sparkContext.getPersistentRDDs.values.mkString(", ")}")
  }
}
