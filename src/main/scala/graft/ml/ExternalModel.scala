package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A model-execution session: scores one batch of feature vectors. The
  * Spark analog of the reference's per-worker inference session
  * (model_execution/run_pytorch_model.py:52 `predict` — load session once,
  * loop over batches). Implementations must be Serializable: one instance
  * is shipped to each executor and reused across its batches.
  */
trait ModelRuntime extends Serializable {
  /** rows × inWidth → rows × outWidth, row order preserved. */
  def score(batch: Array[Array[Float]]): Array[Array[Float]]
}

/** Deterministic stand-in for a real inference session (this container has
  * no ONNX/Torch runtime — same policy as Multimodal.decodeStub): output
  * k is the mean of the k-th contiguous input slice. The accumulator is
  * DOUBLE (each float32 widens exactly; left-to-right double adds are the
  * repo's cross-engine contract, graft.core.Exact) with a float32 result
  * element, so the whole predict chain is mirrorable in the DuckDB oracle
  * — scale (double) → float32 features → double slice-sum → float32
  * output. A real build replaces exactly this class with a session wrapper
  * (e.g. ONNX Runtime `OrtSession`); everything around it — batching,
  * scaling, dim-order, schema — is the real plumbing.
  */
final class StubRuntime(inWidth: Int, outWidth: Int) extends ModelRuntime {
  override def score(batch: Array[Array[Float]]): Array[Array[Float]] =
    batch.map { feat =>
      Array.tabulate(outWidth) { k =>
        val span = math.max(1, inWidth / outWidth)
        val from = k * span
        val to = math.min(inWidth, from + span)
        var s = 0.0d
        var i = from
        while (i < to) { s += feat(i); i += 1 }
        (s / (to - from)).toFloat
      }
    }
}

/** Batched external-model inference behind STAC-MLM metadata — the Spark
  * analog of the reference's non-sklearn predict path
  * (data_model/torch_model.py:10 `TorchModel.make_predictions`). The
  * reference materializes numpy batch files and forks a torch process per
  * GPU; on Spark the executors ARE the worker fleet, so the same shape is
  * one `mapPartitions` stage: scaling stays declarative column math
  * (codegen) up to the session boundary, then each partition groups rows
  * into `batchSize`-sized batches and feeds them to the runtime. Map-only —
  * no shuffle, no driver-side data movement at any scale.
  */
final class ExternalModel(
    val item: StacMlmItem,
    val inputIndex: Int,
    val outputIndex: Int,
    runtimeOverride: Option[ModelRuntime] = None) {

  def input: MlmModelInput = item.inputs(inputIndex)
  def output: MlmModelOutput = item.outputs(outputIndex)

  /** Product of the non-batch input dims (a 1-D feature model has one). */
  def featureWidth: Int =
    input.dimOrder.zip(input.shape).collect {
      case (d, n) if d != "batch" => n
    }.product

  /** Width of the non-batch output (the embedding the runtime emits). */
  def outputWidth: Int =
    output.dimOrder.zip(output.shape).collect {
      case (d, n) if d != "batch" => n
    }.product

  /** Batch-size resolution, matching data_model.py:493 `get_batch_size`
    * case by case: no batch dim and no suggestion → 1; suggestion only →
    * suggestion; batch dim only → its extent (fallback 12 when −1); both →
    * the extent unless it is −1, then the suggestion. */
  def batchSize: Int = {
    val fallback = 12
    val bi = input.dimOrder.indexOf("batch")
    (bi, item.batchSizeSuggestion) match {
      case (-1, None)    => 1
      case (-1, Some(s)) => s
      case (i, None)     => if (input.shape(i) == -1) fallback else input.shape(i)
      case (i, Some(s))  => if (input.shape(i) == -1) s else input.shape(i)
    }
  }

  private def runtime: ModelRuntime =
    runtimeOverride.getOrElse(new StubRuntime(featureWidth, outputWidth))

  /** ml_predict: the [[MlmInput]] width guard (execution-time
    * raise_error) and declarative scaling → batched runtime scoring.
    * Output: (id, embedding array<float>, batch_rows) — `batch_rows`
    * records the actual batch each row rode in, so tests can assert the
    * spec's batch size took effect (same pattern as Multimodal).
    */
  def predict(df: DataFrame, idCol: String = "vec_id",
              featuresCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = featureWidth
    val guarded = MlmInput.widthGuard(col(featuresCol), w,
      s"ml_predict: model '${item.name}' expects $w features, got ")
    val bs = batchSize
    val rt = runtime // local vals only — the closure must not drag `this`
    val scored = df.select(col(idCol).cast("long").as("_id"),
        MlmInput.scale(spark, guarded, input.scaling, input.processing, w)
          .cast("array<float>").as("_f"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.grouped(bs).flatMap { batch =>
          val scored = rt.score(batch.iterator.map(_._2).toArray)
          batch.iterator.zip(scored.iterator).map { case ((id, _), out) =>
            (id, out, batch.size)
          }
        }
      }
      .toDF(idCol, "embedding", "batch_rows")
    postProcess(scored, spark)
  }

  /** The output's `post_processing_function`, applied as DECLARATIVE
    * column math after the session stage (reference: run_pytorch_model.py
    * :40 applies it to the raw model output). `sql` expressions run
    * per-element through the whitelist; `python` module-path expressions
    * (the reference's ViT featuremap reorder etc.) are table-level
    * reshapes — their native implementation is graft.ml.VitBridge, so the
    * vector predict declines them explicitly rather than silently
    * skipping. */
  private def postProcess(scored: DataFrame,
                          spark: org.apache.spark.sql.SparkSession): DataFrame =
    output.postProcessing match {
      case None => scored
      case Some(("sql", e)) =>
        scored.withColumn("embedding",
          transform(col("embedding"), x =>
            ProcessExpression.column(spark, e, Map("x" -> x))).cast("array<float>"))
      case Some((fmt, e)) =>
        throw new UnsupportedOperationException(
          s"ml_predict: post_processing_function format '$fmt' ($e) is not " +
            "executable here; featuremap reorders are implemented natively " +
            "in graft.ml.VitBridge — apply it to the prediction table")
    }

  /** ml_predict for IMAGE-TENSOR inputs (dim_order over batch/band/y/x) —
    * the reference's cube → batches reshape for models like Prithvi
    * (data_model.py:438 `reshape_dc_for_input`): the cube is cut into
    * model-sized (ty × tx) tiles, each tile's cells flatten into one
    * feature row in the model's dim order, and the tiles ARE the batch.
    * `get_index_subsets` ends at the last full step, so partial edge tiles
    * are DROPPED, mirrored here by the completeness filter.
    *
    * Spark shape: tile ids and the in-tile flat position are pure column
    * math (mixed-radix index over the input dim order), assembly is one
    * groupBy per tile with a sorted struct collect (arrays bounded by the
    * model's tile size), scoring reuses the same batched session stage.
    * Requires an integer-indexed grid (x/y are cell indices, as in the
    * synthetic lake).
    */
  def predictTiles(cube: graft.cube.DataCube): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bd = cube.requireDim(cube.bandDim, "bands")
    val xd = cube.requireDim(cube.xDim, "x")
    val yd = cube.requireDim(cube.yDim, "y")
    val others = cube.dims.filterNot(d => d == bd || d == xd || d == yd)
    val orderNames = input.dimOrder.filterNot(_ == "batch")
    val extents = input.dimOrder.zip(input.shape).collect {
      case (d, n) if d != "batch" => d -> n
    }.toMap
    def isBandDim(d: String) = graft.cube.DimAliases.band.contains(d) ||
      d == "channel" || d == "embedding"
    def isX(d: String) = graft.cube.DimAliases.x.contains(d)
    def isY(d: String) = graft.cube.DimAliases.y.contains(d)
    val bandExtent = extents.collectFirst { case (d, n) if isBandDim(d) => n }
      .getOrElse(1)
    val tx = extents.collectFirst { case (d, n) if isX(d) => n }.getOrElse(1)
    val ty = extents.collectFirst { case (d, n) if isY(d) => n }.getOrElse(1)
    require(bandExtent == input.bands.length || input.bands.isEmpty,
      s"ml_predict: band extent $bandExtent vs ${input.bands.length} bands")
    val tileW = bandExtent * tx * ty

    // A band-less STAC-MLM input (bands: []) means "any single band":
    // bandExtent is 1 there, so every cell maps to in-tile band slot 0 —
    // the array_position form would yield a constant -1 and silently
    // filter out EVERY cell (an empty result with no error).
    val bandIdx =
      if (input.bands.isEmpty) lit(0)
      else array_position(typedlit(input.bands), col(bd)).cast("int") - 1
    def idxOf(d: String): Column =
      if (isBandDim(d)) bandIdx
      else if (isX(d)) pmod(col(xd).cast("long"), lit(tx)).cast("int")
      else if (isY(d)) pmod(col(yd).cast("long"), lit(ty)).cast("int")
      else throw new IllegalArgumentException(s"ml_predict: tile dim '$d'")
    // flat in-tile position: mixed-radix over the model's dim order
    val pos = orderNames.foldLeft(lit(0)) { (acc, d) =>
      acc * lit(extents(d)) + idxOf(d)
    }
    val spark = cube.df.sparkSession
    val keys = others.map(col) ++ Seq(
      floor(col(xd).cast("long") / tx).cast("long").as("_tile_x"),
      floor(col(yd).cast("long") / ty).cast("long").as("_tile_y"))
    val assembled = cube.df
      .filter(bandIdx >= 0) // cells of bands the model doesn't take
      .withColumn("_pos", pos)
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("_pos"),
        col(cube.valueCol).cast("double").as("v")))).as("_cells"))
      // reference cuts off partial windows — incomplete tiles drop
      .filter(size(col("_cells")) === tileW)
      .withColumn("_feats",
        MlmInput.scale(spark, transform(col("_cells"), c => c.getField("v")),
          input.scaling, input.processing, bandExtent, ty * tx,
          channelFirst = orderNames.headOption.exists(d =>
            graft.cube.DimAliases.band.contains(d) || d == "channel"))
          .cast("array<float>"))
      .drop("_cells")
    val keptCols = others :+ "_tile_x" :+ "_tile_y"
    val prepped = assembled.select((keptCols.map(col) :+ col("_feats")): _*)
    // multi-dim outputs (featuremap models: [batch, y, x, embedding])
    // decompose the flat output index mixed-radix into one column per
    // non-batch output dim — the reshape_output_to_cube round trip
    val outDims = output.dimOrder.filterNot(_ == "batch")
    val outExt = output.dimOrder.zip(output.shape).collect {
      case (d, n) if d != "batch" => n
    }.toArray
    require(outExt.forall(_ > 0),
      s"ml_predict: non-batch output extents must be concrete, got " +
        outExt.mkString("[", ",", "]"))
    require(outDims.intersect(keptCols).isEmpty,
      s"ml_predict: output dims $outDims collide with cube dims $keptCols")
    val strides = outExt.scanRight(1)(_ * _).tail
    val outSchema = StructType(
      (prepped.schema.fields.dropRight(1)
        ++ outDims.map(d => StructField(d, IntegerType, nullable = false)))
        :+ StructField(cube.valueCol, DoubleType, nullable = false))
    val bs = batchSize
    val rt = runtime
    val nKeep = keptCols.length
    prepped.mapPartitions { it =>
      it.grouped(bs).flatMap { batch =>
        val scored = rt.score(batch.iterator
          .map(_.getSeq[Float](nKeep).toArray).toArray)
        batch.iterator.zip(scored.iterator).flatMap { case (r, out) =>
          val base = r.toSeq.take(nKeep)
          out.iterator.zipWithIndex.map { case (v, k) =>
            val idxs = strides.zip(outExt).map { case (s, e) => (k / s) % e }
            Row.fromSeq((base ++ idxs) :+ v.toDouble)
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** ml_predict over a datacube: pivot the band dimension into the model's
    * input band order (one shuffle on the non-band dims), score, and
    * explode the output embedding back to long format — the cube → batches
    * → cube round trip of data_model.py:438,666 with the model's output
    * dim as the new cube dimension. Single mapPartitions stage carrying the
    * kept dims through as passthrough columns (no join, no synthetic ids).
    */
  def predictCube(cube: graft.cube.DataCube): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(input.bands.nonEmpty,
      "ml_predict: the selected mlm:input declares no bands")
    require(featureWidth == input.bands.length,
      s"ml_predict: cube predict supports 1-D feature models; input " +
        s"declares ${input.bands.length} bands but width $featureWidth")
    val (keep, guarded) = MlmInput.bandPivot(cube, input.bands)
    // keep dims first, features LAST — the closure below relies on
    // position. `_allnan` flags the nodata shortcut cells (checked on the
    // RAW features — numpy scaling preserves NaN-ness, so this matches the
    // reference's post-scale isnan(block).all() test, data_model.py:899).
    val prepped = cube.df.groupBy(keep.map(col): _*)
      .agg(MlmInput.scale(cube.df.sparkSession, guarded, input.scaling,
          input.processing, featureWidth).cast("array<float>").as("_feats"),
        forall(guarded, x => isnan(x)).as("_allnan"),
        element_at(guarded, 1).as("_nanval"))
      .select((keep.map(col) :+ col("_feats") :+ col("_allnan") :+
        col("_nanval")): _*)
    val outDim = output.dimOrder.filterNot(_ == "batch")
      .headOption.getOrElse("embedding")
    val outSchema = StructType(
      prepped.schema.fields.dropRight(3)
        :+ StructField(outDim, IntegerType, nullable = false)
        :+ StructField(cube.valueCol, DoubleType, nullable = false))
    val bs = batchSize
    val rt = runtime
    val nKeep = keep.length
    val ow = outputWidth
    // ONE pass: the nodata split happens INSIDE the scoring stage —
    // `prepped` is evaluated exactly once, so a cell can never land in
    // both or neither branch the way two complementary filters over
    // separate plan subtrees could.
    // Nodata cells expand to a NaN output vector, the model never called.
    // The NaN is `_nanval` — the RAW first feature (all-NaN by the flag;
    // the scaled `_feats` could have rewritten it, Spark's least/greatest
    // clip does not propagate NaN the way numpy does) — never a lit(NaN):
    // a literal branch would constant-fold into any downstream int cast
    // and ANSI-fail even on cubes with zero nodata.
    prepped.mapPartitions { it =>
      it.grouped(bs).flatMap { batch =>
        val (nan, real) = batch.partition(_.getBoolean(nKeep + 1))
        val realOut: Iterator[Row] =
          if (real.isEmpty) Iterator.empty
          else {
            val out = rt.score(real.iterator
              .map(_.getSeq[Float](nKeep).toArray).toArray)
            real.iterator.zip(out.iterator).flatMap { case (r, o) =>
              val base = r.toSeq.take(nKeep)
              o.iterator.zipWithIndex.map { case (v, k) =>
                Row.fromSeq((base :+ k) :+ v.toDouble)
              }
            }
          }
        val nanOut = nan.iterator.flatMap { r =>
          val base = r.toSeq.take(nKeep)
          val nv = r.getDouble(nKeep + 2)
          (0 until ow).iterator.map(k => Row.fromSeq((base :+ k) :+ nv))
        }
        realOut ++ nanOut
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
