package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.encode.Encode
import graft.exprlang.Formula
import graft.frame.SeaFrame
import graft.functions.Stats
import graft.io.Sources
import graft.llmdata.{Bpe, Dedup, Sampling, TextAnalysis}
import graft.ml.{ModSpec, Net}
import graft.ops.Joins

/** One benchmark workload. `op` is the timed pipeline; `check` runs
  * after it, untimed, and returns the op's output as JSON for the
  * oracle comparison made by run.py.
  */
trait Workload {
  /** Register the generated inputs and do the one-time fits. */
  def setup(): Unit
  /** Rows (documents for the corpus) one op processes. */
  def inputRows: Long
  def op(): Unit
  def check(): String
  /** Bytes held by persisted data at the end of the op. */
  def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
  /** Drop what the op persisted. */
  def release(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String,
      t: Tracer): Workload = name match {
    case "feature_pipeline" => new FeaturePipeline(spark, data, work, t)
    case "model_fit" => new ModelFit(spark, data, t)
    case "corpus_build" => new CorpusBuild(spark, data, work, t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rows(df: DataFrame): String = rows(df.collect().toSeq)

  def rows(rs: Seq[org.apache.spark.sql.Row]): String =
    Json.arr(rs.map(r =>
      Json.arr(r.toSeq.map {
        case null => "null"
        case s: String => Json.str(s)
        case l: Long => Json.num(l)
        case i: Int => Json.num(i.toLong)
        case d: Double => Json.num(d)
        case other => Json.str(other.toString)
      })))
}

/** seafan's data layer: read, default-fill join, ordered frame, row and
  * order-dependent formulas, encode, profile, write.
  */
final class FeaturePipeline(spark: SparkSession, data: String, work: String,
    t: Tracer) extends Workload {
  private val out = s"$work/feature_out"
  private var n = 0L
  private var profile: Array[org.apache.spark.sql.Row] = _
  private var checked = 0

  def inputRows: Long = n

  def setup(): Unit =
    n = spark.read.parquet(s"$data/lineitem.parquet").count()

  private def read(table: String): DataFrame =
    Sources.parquetToPipe(spark, s"$data/$table.parquet").df

  def op(): Unit = t.span("op") {
    val (li, o, c, p) = t.span("io.read") {
      (t.materialize(read("lineitem")),
        t.materialize(read("orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey").as("custkey"), col("o_totalprice"),
          col("o_orderpriority"))),
        t.materialize(read("customer").select(col("c_custkey").as("custkey"),
          col("c_acctbal"), col("c_mktsegment"))),
        t.materialize(read("part").select(col("p_partkey").as("l_partkey"),
          col("p_brand"), col("p_size"), col("p_retailprice"))))
    }
    val joined = t.span("ops.join") {
      val lo = Joins.join(li, o, "l_orderkey", "inner")
      val loc = Joins.join(lo, c, "custkey", "left")
      val m = t.materialize(Joins.join(loc, p, "l_partkey", "left"))
      if (t.tracing) t.record("broadcasts", Plans.broadcasts(m).toDouble)
      m
    }
    val seq = t.span("frame.sequence") {
      val f = SeaFrame.withSequence(joined,
        Seq(col("l_orderkey"), col("l_linenumber")))
      f.copy(df = t.materialize(f.df))
    }
    val s = seq.seqCol
    val formulas = t.span("exprlang.addToPipe") {
      Seq("net_price" -> "l_extendedprice * (1 - l_discount)",
        "prev_price" -> "lag(l_extendedprice, -1)",
        "cum_qty" -> "cumeBefore(l_quantity)",
        "qty_rank" -> "row(l_quantity)")
        .foldLeft(seq.df) { case (d, (name, f)) =>
          Formula.addToPipe(d, name, f, s) }
    }
    val evaluated = t.span("exprlang.eval") { t.materialize(formulas) }
    val (flagMeta, segMeta) = t.span("encode.fit") {
      (Encode.fitD(evaluated, "l_returnflag"),
        Encode.fitD(evaluated, "c_mktsegment"))
    }
    val encoded = t.span("encode.apply") {
      val (d1, _) = Encode.appendD(evaluated, "l_returnflag", "flag_code",
        Some(flagMeta))
      val (d2, sm) = Encode.appendD(d1, "c_mktsegment", "seg_code",
        Some(segMeta))
      val (d3, _) = Encode.makeOneHot(d2, sm, "seg_code", "seg")
      val (d4, _) = Encode.appendC(d3, "l_quantity", "qty_c")
      t.materialize(d4.withColumn("seq", col(SeaFrame.SEQ)))
    }
    t.span("io.write") {
      Sources.pipeToParquet(SeaFrame(encoded, graft.types.FeatureSchema.empty,
        Some(SeaFrame.SEQ)), out)
    }
    profile = t.span("functions.describe") {
      val written = Sources.parquetToPipe(spark, out).df
      t.materialize(Stats.describe(written, "qty_c"))
    }.collect()
  }

  /** Moves the written table aside for run.py, which fingerprints it in
    * DuckDB after the run, so the check costs no Spark job in the loop.
    */
  def check(): String = {
    val kept = s"$work/feature_checks/op-$checked"
    checked += 1
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$work/feature_checks"))
    java.nio.file.Files.move(java.nio.file.Paths.get(out),
      java.nio.file.Paths.get(kept))
    val p = profile.toSeq.map(r => org.apache.spark.sql.Row(
      r.getAs[Any]("n"), r.getAs[Any]("q0"), r.getAs[Any]("q100")))
    s"""{"written":${Json.str(kept)},"profile":${Workload.rows(p)}}"""
  }
}

/** seafan's model layer: formula and one-hot prep, spec parse, local
  * mini-batch fit on a fixed sample, distributed fit on the full frame,
  * scoring and diagnostics.
  */
final class ModelFit(spark: SparkSession, data: String, t: Tracer)
    extends Workload {
  private var n = 0L
  private var preds: DataFrame = _
  private var local: ModSpec.NativeModel = _
  private var prepared: DataFrame = _

  val SampleRows = 12000.0
  val DistSteps = 20

  def inputRows: Long = n

  def setup(): Unit =
    n = spark.read.parquet(s"$data/orders.parquet").count()

  def op(): Unit = t.span("op") {
    val o = t.span("io.read") {
      t.materialize(Sources.parquetToPipe(spark, s"$data/orders.parquet").df)
    }
    val withF = t.span("exprlang.addToPipe") {
      val d = Formula.addToPipe(o, "price_k", "(o_totalprice - 150000) / 100000")
      Formula.addToPipe(d, "high", "if(o_totalprice > 150000, 1, 0)")
    }
    val evaluated = t.span("exprlang.eval") {
      // XOR of the price threshold and a priority bit: linearly
      // inseparable, so passing the accuracy gate proves the hidden layer
      // trains
      t.materialize(withF.withColumn("label",
        when((col("high") === 1) =!=
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)))
    }
    val statusMeta = t.span("encode.fit") {
      Encode.fitD(evaluated, "o_orderstatus")
    }
    prepared = t.span("encode.apply") {
      val (d1, m) = Encode.appendD(evaluated, "o_orderstatus", "status_code",
        Some(statusMeta))
      t.materialize(Encode.makeOneHot(d1, m, "status_code", "status")._1)
    }.cache()
    val statusCols = statusMeta.levels.values.toSeq.sorted.map(c => s"status_$c")
    val layers = t.span("ml.parse") {
      ModSpec.parse(Seq(
        s"Input(${("price_k" +: "o_orderpriorityoh" +: statusCols).mkString(" + ")})",
        "FC(size:8, activation:LeakyRelu(0.1))",
        "FC(size:2, activation:SoftMax)",
        "Target(label)"))
    }
    local = t.span("ml.fit_local") {
      val train = Sampling.hashSample(prepared, "o_orderkey",
        math.min(1.0, SampleRows / n))
      ModSpec.fitNative(layers, train, classification = true, nClasses = 2,
        cfg = Net.Config(batchSize = 128, epochs = 20, lrStart = 5e-2,
          lrEnd = 2e-3))
    }
    val dist = t.span("ml.fit_dist") {
      t.record("steps", DistSteps.toDouble)
      ModSpec.fitNative(layers, prepared, classification = true,
        nClasses = 2, distributed = true,
        cfg = Net.Config(epochs = DistSteps, lrStart = 2e-1, lrEnd = 2e-2))
    }
    preds = t.span("ml.predict") {
      t.materialize(dist.transform(prepared).select(col("o_orderkey"),
        col("label"), col("__predicted_class").as("predicted"),
        org.apache.spark.ml.functions.vector_to_array(col("__prediction"))
          .getItem(1).as("score")))
    }
    t.span("functions.diag") {
      Stats.ks(preds, col("score"), col("label"))
      Stats.decile(preds, col("score"), col("label"),
        tieBreak = Seq(col("o_orderkey"))).collect()
      Stats.assess(preds, col("score"), col("label"), 0.5).collect()
    }
  }

  private val accuracy: Column =
    avg(when(col("label") === col("predicted"), 1.0).otherwise(0.0))

  def check(): String = {
    val d = preds.agg(accuracy, sum(col("predicted").cast("long") *
      (col("o_orderkey") % 1000003L))).head()
    val (accDist, hash) = (d.getDouble(0), d.getLong(1))
    val lp = local.transform(prepared)
      .withColumn("predicted", col("__predicted_class"))
    val accLocal = lp.agg(accuracy).head().getDouble(0)
    s"""{"acc_local":$accLocal,"acc_dist":$accDist,"pred_hash":$hash}"""
  }

  override def release(): Unit =
    if (prepared != null) prepared.unpersist(blocking = true)
}

/** The LLM-data path: normalize, exact then MinHash-LSH dedup, quality
  * filter, 8-gram decontamination, BPE token counts, token-budget cut.
  * Constants match perfbench/gen.py, whose DuckDB oracle replays them.
  */
final class CorpusBuild(spark: SparkSession, data: String, work: String,
    t: Tracer) extends Workload {
  private var n = 0L
  private var model: Bpe.BpeModel = _
  private var summary: DataFrame = _

  val ShingleN = 3
  val Bands = 16
  val Rows = 2
  val JaccardMin = 0.8
  val EvalMod = 97
  val Window = 8
  val QualityIntercept = 25L
  val Weights: Seq[Long] = (0 until 64).map(b => (b % 7).toLong - 3L)
  val BudgetPerDoc = 60L
  val Merges = 300

  def inputRows: Long = n

  def setup(): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    n = docs.count()
    model = Bpe.fit(docs, "text", Merges)._1
    val merges = model.merges.map { case (a, b) =>
      Json.arr(Seq(Json.str(a), Json.str(b))) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/bpe_merges.json"),
      Json.arr(merges).getBytes("UTF-8"))
  }

  private def toks: Column = filter(split(col("text"), " "), x => x =!= "")

  private def windows(df: DataFrame): DataFrame =
    df.where(size(toks) >= Window)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - Window),
        i => array_join(slice(toks, i + 1, lit(Window)), " "))).as("w"))

  private val pins = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Each stage's survivors feed the next stage and the final report,
    * several times over (self-joins, anti-joins): they are checkpointed
    * eagerly, which also cuts the lineage — without that the report's
    * plan holds every stage's plan hundreds of times and planning alone
    * runs out of heap.
    */
  private def pin(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(eager = true)
    t.record("rows", p.count().toDouble)
    pins += p
    p
  }

  def op(): Unit = t.span("op") {
    val docs = t.span("io.read") {
      t.materialize(Sources.parquetToPipe(spark, s"$data/documents.parquet")
        .df.where(col("text").isNotNull).select(col("doc_id"), col("text")))
    }
    val base = t.span("llmdata.normalize") {
      pin(docs.select(col("doc_id"), col("text"),
        Dedup.normalize(col("text")).as("norm"),
        (col("doc_id") % EvalMod === 0).as("is_eval")))
    }
    val (s1, s2) = t.span("llmdata.dedup") {
      val train = base.where(!col("is_eval"))
        .withColumn("fp", md5(col("norm")))
      val keeper = train.groupBy(col("fp")).agg(min(col("doc_id")).as("keep"))
      val s1 = pin(train.join(keeper, Seq("fp"))
        .where(col("doc_id") === col("keep"))
        .select(col("doc_id"), col("text")))
      val cands = t.span("llmdata.lsh.candidates") {
        t.materialize(Dedup.minhashCandidates(s1, "doc_id", "text",
          ShingleN, Bands, Rows))
      }
      val verified = t.span("llmdata.lsh.verify") {
        t.materialize(Dedup.jaccardVerify(cands, s1, "doc_id", "text",
          ShingleN, JaccardMin))
      }
      (s1, pin(s1.join(verified.select(col("doc_b").as("doc_id")),
        Seq("doc_id"), "left_anti")))
    }
    val s3 = t.span("llmdata.filter") {
      val good = TextAnalysis.linearScoreRow(s2, "doc_id", "text", Weights,
        QualityIntercept).where(col("score_raw") > 0L).select(col("doc_id"))
      pin(s2.join(good, Seq("doc_id"), "left_semi"))
    }
    val s4 = t.span("llmdata.decontam") {
      val evalW = windows(base.where(col("is_eval"))).select(col("w")).distinct()
      val contam = windows(s3).join(broadcast(evalW), Seq("w"))
        .select(col("doc_id")).distinct()
      pin(s3.join(contam, Seq("doc_id"), "left_anti"))
    }
    val counted = t.span("llmdata.tokenize") {
      pin(Bpe.encodeCounts(s4, "doc_id", "text", model))
    }
    val kept = t.span("llmdata.sample") {
      t.materialize(Sampling.sampleToTokenBudget(counted, "doc_id",
        col("n_bpe"), budget = n * BudgetPerDoc).select(col("doc_id")))
    }
    summary = t.span("llmdata.report") {
      def flag(df: DataFrame, c: String) =
        df.select(col("doc_id")).withColumn(c, lit(true))
      val fate = Seq(s1 -> "in1", s2 -> "in2", s3 -> "in3", s4 -> "in4",
          kept -> "kept")
        .foldLeft(base.select(col("doc_id"), col("is_eval"))) {
          case (d, (in, c)) => d.join(flag(in, c), Seq("doc_id"), "left") }
        .join(counted.select(col("doc_id"), col("n_bpe")), Seq("doc_id"), "left")
      val stage = when(col("is_eval"), "eval")
        .when(col("in1").isNull, "dedup")
        .when(col("in2").isNull, "neardup")
        .when(col("in3").isNull, "quality")
        .when(col("in4").isNull, "decontam")
        .when(col("kept").isNotNull, "kept")
        .otherwise("budget")
      val s = fate.groupBy(stage.as("stage"))
        .agg(count(lit(1)).as("docs"), sum(col("doc_id")).as("id_sum"),
          sum(coalesce(col("n_bpe"), lit(0L))).as("bpe_sum"))
        .orderBy(col("stage"))
      t.materialize(s)
    }
    summary.collect()
  }

  def check(): String = Workload.rows(summary)

  override def release(): Unit = {
    pins.foreach(_.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = true)
      case _ =>
    })
    pins.clear()
  }
}

/** Executed-plan inspection for the traced run. */
object Plans {
  /** Broadcast hash joins in the plan that built a frame the tracer
    * persisted (through the adaptive wrapper, query stages and the
    * in-memory relation), read after the boundary count so runtime
    * re-planning is included.
    */
  def broadcasts(persisted: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        count(m.relation.cacheBuilder.cachedPlan)
      case s: QueryStageExec => count(s.plan)
      case b: BroadcastHashJoinExec => 1 + b.children.map(count).sum
      case other => other.children.map(count).sum
    }
    count(persisted.queryExecution.executedPlan)
  }
}
