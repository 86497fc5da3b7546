package graft.ml

import graft.types._
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{LogisticRegression, MultilayerPerceptronClassifier}
import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame

/** The reference's model-spec DSL mapped onto MLlib Pipelines
  * (seafan modspec.go:55-470, SURVEY §2.12).
  *
  * Layer grammar (reference nn_test.go:136-141):
  *   Input(x1+x2+x4oh)  FC(size:8, activation:relu)  DropOut(.1)
  *   FC(size:1, activation:sigmoid)  Target(y)
  *
  * Two fit paths:
  *   - [[toPipeline]]/[[pipelineFor]]: distributed MLlib — FC stack ->
  *     MultilayerPerceptronClassifier (sigmoid hidden activations,
  *     MLlib's fixed choice; DropOut a no-op), single linear output ->
  *     LinearRegression, single sigmoid output -> LogisticRegression.
  *     Scales to any input; activations approximate.
  *   - [[fitNative]]: exact activation/dropout parity via [[Net]]
  *     (relu / leakyRelu(α) / sigmoid / linear / K-1-logit softmax,
  *     real dropout masks, Adam + linear LR decay, validation early
  *     stop). Feature prep distributed, net fit by one of Net's two
  *     trainers — driver-local over a row-capped collect (the
  *     reference's own memory envelope) or distributed over the full
  *     frame — scoring distributed.
  * Input -> StringIndexer/OneHotEncoder/VectorAssembler either way.
  */
object ModSpec {

  sealed trait Layer
  case class Input(features: Seq[FeatureRef]) extends Layer
  case class FC(size: Int, activation: String,
      bias: Boolean = true) extends Layer
  case class DropOut(p: Double) extends Layer
  case class Target(field: String) extends Layer

  /** A feature reference: plain continuous, or one-hot/embedded
    * categorical (`E(x4oh, 3)` embeds; we one-hot instead and record
    * the requested width).
    */
  case class FeatureRef(name: String, oneHot: Boolean, embed: Int = 0)

  private val fcRe = """FC\(\s*size:(\d+)\s*(?:,\s*activation:([\w.()]+))?\s*(?:,\s*bias:(true|false))?\s*\)""".r
  private val doRe = """DropOut\(([\d.]+)\)""".r
  private val inRe = """Input\((.+)\)""".r
  private val tgRe = """Target\((\w+)\)""".r
  private val embRe = """E\((\w+)\s*,\s*(\d+)\)""".r

  def parse(spec: Seq[String]): Seq[Layer] = spec.map {
    case inRe(fs) => Input(fs.split("\\+").map(_.trim).map {
      case embRe(n, k) => FeatureRef(n.stripSuffix("oh"), oneHot = true,
        embed = k.toInt)
      case f if f.endsWith("oh") => FeatureRef(f.stripSuffix("oh"),
        oneHot = true)
      case f => FeatureRef(f, oneHot = false)
    }.toIndexedSeq)
    case fcRe(size, act, bias) => FC(size.toInt,
      Option(act).getOrElse("linear"),
      Option(bias).forall(_.toBoolean)) // default true (modspec.go:173)
    case doRe(p) => DropOut(p.toDouble)
    case tgRe(f) => Target(f)
    case other => throw new IllegalArgumentException(
      s"modspec: cannot parse layer '$other'")
  }

  private def inputOf(layers: Seq[Layer]): Input =
    layers.collectFirst { case i: Input => i }.getOrElse(
      throw new IllegalArgumentException("modspec: no Input layer"))

  /** Feature-prep stages (indexer/one-hot per categorical) plus the
    * assembler-input column names, shared by toPipeline and
    * assembledWidth.
    */
  private def featureStages(input: Input)
      : (Seq[PipelineStage], Seq[String]) = {
    val stages = scala.collection.mutable.ArrayBuffer[PipelineStage]()
    val assembled = input.features.map { f =>
      if (f.oneHot) {
        // sorted-value level coding to match the engine's appendD
        stages += new StringIndexer().setInputCol(f.name)
          .setOutputCol(s"${f.name}__idx")
          .setStringOrderType("alphabetAsc").setHandleInvalid("keep")
        stages += new OneHotEncoder().setInputCols(Array(s"${f.name}__idx"))
          .setOutputCols(Array(s"${f.name}__oh")).setDropLast(false)
        s"${f.name}__oh"
      } else f.name
    }
    (stages.toSeq, assembled)
  }

  /** The assembled `__features` width for a spec on `df`. MLP layer
    * sizes must all be positive, so the multi-FC classification path
    * needs this up front (MLlib does NOT resolve a -1 placeholder at
    * fit time). Fits only the cheap feature stages — one distinct-scan
    * per categorical.
    */
  def assembledWidth(layers: Seq[Layer], df: DataFrame): Int = {
    val (stages, assembled) = featureStages(inputOf(layers))
    val asm = new VectorAssembler().setInputCols(assembled.toArray)
      .setOutputCol("__features")
    val prepped = new Pipeline().setStages((stages :+ asm).toArray)
      .fit(df).transform(df)
    prepped.select("__features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
  }

  /** Build the MLlib pipeline for a parsed spec. `classification`
    * selects MLP/LogisticRegression vs LinearRegression for the output
    * layer. Multi-FC classification (an MLP) needs `inputWidth` — the
    * assembled feature-vector size — because MLlib validates that every
    * layer size is positive at construction; use `pipelineFor` to have
    * it derived from the data.
    */
  def toPipeline(layers: Seq[Layer], classification: Boolean,
      nClasses: Int = 2, inputWidth: Int = -1): Pipeline = {
    val input = inputOf(layers)
    val target = layers.collectFirst { case t: Target => t }.getOrElse(
      throw new IllegalArgumentException("modspec: no Target layer"))
    val fcs = layers.collect { case f: FC => f }

    val (fStages, assembled) = featureStages(input)
    val stages = scala.collection.mutable.ArrayBuffer[PipelineStage]()
    stages ++= fStages
    stages += new VectorAssembler().setInputCols(assembled.toArray)
      .setOutputCol("__features")

    val estimator: PipelineStage =
      if (!classification)
        new LinearRegression().setFeaturesCol("__features")
          .setLabelCol(target.field).setMaxIter(100)
      else if (fcs.length <= 1)
        new LogisticRegression().setFeaturesCol("__features")
          .setLabelCol(target.field).setMaxIter(100)
      else {
        require(inputWidth > 0,
          "modspec: a multi-FC classification spec builds an MLP, whose " +
            "layer sizes must all be known up front; pass inputWidth = " +
            "ModSpec.assembledWidth(layers, df) or use ModSpec.pipelineFor")
        // hidden sizes from all but the final FC; output = nClasses
        val hidden = fcs.dropRight(1).map(_.size)
        val mlp = new MultilayerPerceptronClassifier()
          .setFeaturesCol("__features").setLabelCol(target.field)
          .setSeed(42).setMaxIter(100)
        mlp.setLayers(Array(inputWidth) ++ hidden ++ Array(nClasses))
        mlp
      }
    stages += estimator
    new Pipeline().setStages(stages.toArray)
  }

  /** toPipeline with the MLP input width derived from `df` when the
    * spec needs it (multi-FC classification).
    */
  def pipelineFor(layers: Seq[Layer], df: DataFrame,
      classification: Boolean, nClasses: Int = 2): Pipeline = {
    val needsWidth =
      classification && layers.collect { case f: FC => f }.length > 1
    val width = if (needsWidth) assembledWidth(layers, df) else -1
    toPipeline(layers, classification, nClasses, width)
  }

  /** Reference activation-name grammar (modspec.go:130-160,
    * case-insensitive, optional parameter): `relu`, `leakyrelu(0.1)`,
    * `sigmoid`, `softmax`, `linear` (default).
    */
  def parseAct(s: String): Net.Act = {
    val lrRe = """(?i)leakyrelu\(([\d.eE+-]+)\)""".r
    s.trim match {
      case lrRe(a) => Net.LeakyRelu(a.toDouble)
      case t if t.equalsIgnoreCase("relu") => Net.Relu
      case t if t.equalsIgnoreCase("leakyrelu") => Net.LeakyRelu(0.0)
      case t if t.equalsIgnoreCase("sigmoid") => Net.Sigmoid
      case t if t.equalsIgnoreCase("softmax") => Net.SoftMax
      case t if t.equalsIgnoreCase("linear") => Net.Linear
      case other => throw new IllegalArgumentException(
        s"modspec: unknown activation '$other'")
    }
  }

  /** A spec fitted with the native parity trainer: feature prep stays
    * a (distributed) MLlib pipeline, the net itself is [[Net]] with
    * the reference's exact activation/dropout/softmax semantics.
    */
  case class NativeModel(prep: PipelineModel, net: Net.NetModel,
      targetCol: String) {
    def transform(df: DataFrame): DataFrame =
      net.transform(prep.transform(df))
  }

  /** Fit with REAL activation parity (reference nn.go:398-417):
    * relu / leakyRelu(α) / sigmoid / linear hidden layers, DropOut
    * between layers, K-1-logit softmax head — everything MLlib's
    * sigmoid-only MLP approximates away. Feature prep (indexers,
    * one-hot, assembler) runs distributed; the net scores distributed
    * and trains with one of [[Net]]'s two trainers, which share one
    * epoch loop (learning-rate schedule, `valid` early stop):
    * driver-local mini-batches on a row-capped collect ([[Net.fit]],
    * the reference's own memory envelope; sample first at scale), or
    * with `distributed = true` synchronous large-batch Adam over the
    * full frame ([[Net.fitDistributed]], no row cap).
    *
    * Classification targets must be class indices 0..K-1 (the
    * reference requires a one-hot target for softmax, modspec
    * obsF.Role check at nn.go:299-302); regression targets are plain
    * numerics with a single linear/sigmoid output unit.
    */
  def fitNative(layers: Seq[Layer], df: DataFrame,
      classification: Boolean, nClasses: Int = 2,
      cfg: Net.Config = Net.Config(), valid: Option[DataFrame] = None,
      distributed: Boolean = false): NativeModel = {
    val input = inputOf(layers)
    val target = layers.collectFirst { case t: Target => t }.getOrElse(
      throw new IllegalArgumentException("modspec: no Target layer"))
    val (fStages, assembled) = featureStages(input)
    val asm = new VectorAssembler().setInputCols(assembled.toArray)
      .setOutputCol("__features")
    val prep = new Pipeline().setStages((fStages :+ asm).toArray).fit(df)

    // E(f, k) features become jointly-trained embedding blocks
    // (reference modspec.go:306-414 — gradients flow from the whole
    // net, unlike the two-stage Embeddings.fit): locate each one-hot
    // slice in the assembled vector via the fitted encoder widths.
    val ohWidth: Map[String, Int] = prep.stages.collect {
      case m: org.apache.spark.ml.feature.OneHotEncoderModel =>
        m.getOutputCols.zip(m.categorySizes).toSeq
    }.flatten.toMap
    var offset = 0
    val embeds = scala.collection.mutable.ArrayBuffer[Net.EmbedBlock]()
    input.features.foreach { f =>
      val width = if (f.oneHot) ohWidth(s"${f.name}__oh") else 1
      if (f.embed > 0)
        embeds += Net.EmbedBlock(offset, width, f.embed)
      offset += width
    }

    // FC -> LayerSpec; a DropOut layer attaches to the preceding FC
    val specs = scala.collection.mutable.ArrayBuffer[Net.LayerSpec]()
    layers.foreach {
      case FC(size, act, bias) =>
        specs += Net.LayerSpec(size, parseAct(act), bias = bias)
      case DropOut(p) =>
        require(specs.nonEmpty, "modspec: DropOut before any FC layer")
        specs(specs.length - 1) =
          specs.last.copy(dropProb = p)
      case _ =>
    }
    require(specs.nonEmpty, "modspec: no FC layers")
    val fitFn = if (distributed) Net.fitDistributed _ else Net.fit _
    val net = fitFn(prep.transform(df), specs.toSeq,
      if (classification) nClasses else 0, cfg, "__features",
      target.field, valid.map(prep.transform), embeds.toSeq)
    NativeModel(prep, net, target.field)
  }

  /** Persist a native fit: MLlib feature prep + net weights + target
    * (the reference's <root>S.nn / <root>P.nn split, nn.go:441-486).
    */
  def saveNative(m: NativeModel, dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    m.prep.write.overwrite().save(s"$dir/prep")
    Net.save(m.net, s"$dir/net")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/target.txt"),
      m.targetCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a [[saveNative]] directory; the returned model scores
    * distributed exactly as the original.
    */
  def loadNative(dir: String): NativeModel = {
    val prep = PipelineModel.load(s"$dir/prep")
    val net = Net.load(s"$dir/net")
    val target = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/target.txt")),
      java.nio.charset.StandardCharsets.UTF_8)
    NativeModel(prep, net, target)
  }

  /** A fitted spec whose `E(f, k)` features carry their trained
    * embedding models: transform applies the lookups, then the
    * pipeline.
    */
  case class EmbeddedModel(embeddings: Seq[Embeddings.EmbeddingModel],
      model: PipelineModel) {
    def transform(df: DataFrame): DataFrame =
      model.transform(embeddings.foldLeft(df)((d, e) => e(d)))
  }

  /** Fit a spec whose Input contains `E(f, k)` features with REAL
    * trained embeddings (reference modspec.go:306-414): each embedded
    * categorical is trained to a k-dim lookup (Embeddings.fit — the
    * input->hidden weight block of a minimal NN), its k columns then
    * enter the main pipeline as continuous features. Classification
    * targets only (the embedding fit is an MLP).
    */
  def fitEmbedded(layers: Seq[Layer], df: DataFrame,
      classification: Boolean = true, nClasses: Int = 2,
      embedMaxIter: Int = 40, mainMaxIter: Int = 100): EmbeddedModel = {
    val input = inputOf(layers)
    val target = layers.collectFirst { case t: Target => t }.getOrElse(
      throw new IllegalArgumentException("modspec: no Target layer"))
    val (toEmbed, rest) = input.features.partition(_.embed > 0)
    require(toEmbed.nonEmpty,
      "fitEmbedded: spec has no E(f, k) features; use pipelineFor")
    val embeddings = toEmbed.map(f =>
      Embeddings.fit(df, f.name, target.field, f.embed,
        maxIter = embedMaxIter))
    val embedded = embeddings.foldLeft(df)((d, e) => e(d))
    val newFeatures = rest ++ embeddings.flatMap(_.columnNames)
      .map(n => FeatureRef(n, oneHot = false))
    val newLayers = layers.map {
      case _: Input => Input(newFeatures)
      case l => l
    }
    val pipeline = pipelineFor(newLayers, embedded, classification,
      nClasses)
    pipeline.getStages.lastOption.foreach {
      case lr: LogisticRegression => lr.setMaxIter(mainMaxIter)
      case lr: LinearRegression => lr.setMaxIter(mainMaxIter)
      case m: MultilayerPerceptronClassifier => m.setMaxIter(mainMaxIter)
      case _ =>
    }
    EmbeddedModel(embeddings, pipeline.fit(embedded))
  }
}
