package graft.selbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.core._
import graft.io.LibSvm
import graft.ml.{FrequencyDiscretizer, InfoThSelector}

/** What one timed operation did and whether its outputs checked out. */
final case class OpRec(op: Int, criterion: String, pipelineS: Double,
    fitS: Double, transformS: Double, rows: Long, error: Option[String])

/**
 * One workload: inputs generated from the seed and written at rest, the
 * oracle built from the same rows, and the user pipeline
 * read -> (discretize) -> fit -> transform -> check.
 */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  val K = 10
  def name: String
  def nRows: Int
  def nFeatures: Int
  def criterion(op: Int): String
  /** Writes the inputs under `dir`. */
  def generate(dir: String): Unit
  /** Columns the oracle counts (after discretization where there is one). */
  def oracleCols(dir: String): Cols
  /** The lazy user read. */
  def read(dir: String): DataFrame
  /** The read of a timed operation; a traced one materializes it in a span
    * of the reading layer. */
  def opRead(dir: String, tr: Option[Tracer], op: Int): DataFrame = read(dir)
  /** (input of the selector, its features column); lazy. */
  def prepare(df: DataFrame, tr: Option[Tracer], op: Int): (DataFrame, String) =
    (df, "features")
  def shape: Seq[(String, String)]

  protected def classes: Int
  lazy val planted: Planted = Planted(nFeatures, classes, seed)
  def criteria: Seq[String]
}

final class DenseTall(spark: SparkSession, seed: Long, val nRows: Int)
    extends Workload(spark, seed) {
  val name = "dense-tall"
  val nFeatures = 64
  val Buckets = 16
  protected val classes = 3
  def criteria: Seq[String] = Seq("mrmr")
  def criterion(op: Int): String = "mrmr"
  def shape = Seq("rows" -> nRows.toString, "features" -> nFeatures.toString,
    "classes" -> classes.toString, "buckets" -> Buckets.toString,
    "format" -> "parquet dense vectors, continuous values")

  def generate(dir: String): Unit = {
    val p = planted; val s = seed
    val rows = spark.sparkContext
      .range(0, nRows, numSlices = spark.sparkContext.defaultParallelism)
      .map { r => val (y, v) = Gen.continuousRow(p, s, r); Row(y.toDouble, Vectors.dense(v)) }
    spark.createDataFrame(rows, Main.Schema).write.parquet(dir)
  }

  def read(dir: String): DataFrame = spark.read.parquet(dir)

  def discretizer: FrequencyDiscretizer = new FrequencyDiscretizer()
    .setInputCol("features").setOutputCol("disc").setNumBuckets(Buckets)

  override def prepare(df: DataFrame, tr: Option[Tracer], op: Int): (DataFrame, String) = {
    val model = Main.traced(tr, "ml.FrequencyDiscretizer", "fit", op) {
      discretizer.fit(df)
    }
    val disc = model.transform(df)
    tr.foreach { t =>
      t.span("ml.FrequencyDiscretizer", "transform", op) {
        disc.select("disc").queryExecution.toRdd.count()
      }
      t.span("bench", "aux", op) {
        val total = df.count()
        val fraction = math.min(math.max(Buckets * Buckets, 10000).toDouble / total, 1.0)
        t.spans.last.attrs("sample_rows") =
          df.select("features").sample(false, fraction, discretizer.getSeed).count()
      }
    }
    (disc, "disc")
  }

  def oracleCols(dir: String): Cols = {
    val (disc, c) = prepare(read(dir), None, -1)
    val rows = disc.select(col("label"), col(c)).rdd.map { r =>
      val v = r.getAs[Vector](1)
      (r.getDouble(0).toByte, Array.tabulate(v.size)(j => v(j).toByte))
    }.collect()
    new DenseCols(Array.tabulate(nFeatures)(f => rows.map(_._2(f))), rows.map(_._1))
  }
}

final class ReferenceFits(spark: SparkSession, seed: Long, val nRows: Int)
    extends Workload(spark, seed) {
  val name = "reference-fits"
  val nFeatures = 631
  protected val classes = 2
  def criteria: Seq[String] = Reference.Criteria
  def criterion(op: Int): String =
    Reference.Criteria(Math.floorMod(op, Reference.Criteria.length))
  def shape = Seq("rows" -> nRows.toString, "features" -> nFeatures.toString,
    "classes" -> classes.toString,
    "format" -> "parquet dense vectors, pre-discretized byte values")

  private lazy val rows = Array.tabulate(nRows)(r => Gen.byteRow(planted, seed, r))

  def generate(dir: String): Unit = {
    val data = rows.toSeq.map { case (y, v) =>
      Row(y.toDouble, Vectors.dense(v.map(b => (b & 0xFF).toDouble)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data,
      spark.sparkContext.defaultParallelism), Main.Schema).write.parquet(dir)
  }

  def read(dir: String): DataFrame = spark.read.parquet(dir)

  def oracleCols(dir: String): Cols = new DenseCols(
    Array.tabulate(nFeatures)(f => rows.map(_._2(f))), rows.map(_._1.toByte))
}

final class SparseLibSvm(spark: SparkSession, seed: Long, val nRows: Int)
    extends Workload(spark, seed) {
  val name = "sparse-libsvm"
  val nFeatures = 10000
  val NoiseNnz = 22
  protected val classes = 2
  def criteria: Seq[String] = Seq("jmi")
  def criterion(op: Int): String = "jmi"
  def shape = Seq("rows" -> nRows.toString, "features" -> nFeatures.toString,
    "classes" -> classes.toString, "noise_nnz_per_row" -> NoiseNnz.toString,
    "format" -> "LibSVM text, small-integer values")

  private lazy val rows = Array.tabulate(nRows)(r => Gen.sparseRow(planted, seed, r, NoiseNnz))

  /** One part file per core, as a Spark job would have written them. */
  def generate(dir: String): Unit = {
    new File(dir).mkdirs()
    val parts = spark.sparkContext.defaultParallelism
    val per = (nRows + parts - 1) / parts
    (0 until parts).foreach { p =>
      val w = new BufferedWriter(new FileWriter(f"$dir/part-$p%05d.libsvm"))
      try {
        (p * per until math.min(nRows, (p + 1) * per)).foreach { r =>
          val (y, idx, v) = rows(r)
          val sb = new StringBuilder().append(y)
          var j = 0
          while (j < idx.length) { sb.append(' ').append(idx(j) + 1).append(':').append(v(j)); j += 1 }
          w.write(sb.append('\n').toString)
        }
      } finally w.close()
    }
  }

  def read(dir: String): DataFrame = LibSvm.read(spark, dir, nFeatures)

  override def opRead(dir: String, tr: Option[Tracer], op: Int): DataFrame =
    Main.traced(tr, "io.LibSvm", "read", op) {
      val df = read(dir)
      if (tr.nonEmpty) df.queryExecution.toRdd.count()
      df
    }

  def oracleCols(dir: String): Cols = {
    val counts = new Array[Int](nFeatures)
    rows.foreach(_._2.foreach(f => counts(f) += 1))
    val rIdx = counts.map(c => new Array[Int](c))
    val vals = counts.map(c => new Array[Byte](c))
    val fill = new Array[Int](nFeatures)
    rows.indices.foreach { r =>
      val (_, idx, v) = rows(r)
      var j = 0
      while (j < idx.length) {
        val f = idx(j); rIdx(f)(fill(f)) = r; vals(f)(fill(f)) = v(j); fill(f) += 1; j += 1
      }
    }
    new SparseCols(nRows, rIdx, vals, rows.map(_._1.toByte))
  }
}

object Main {

  val Schema: StructType = StructType(Seq(
    StructField("label", DoubleType, nullable = false),
    StructField("features", SQLDataTypes.VectorType, nullable = false)))

  val ScoreTol = 1e-9
  val WarmupOps = 2

  def traced[T](tr: Option[Tracer], layer: String, phase: String, op: Int)(body: => T): T =
    tr match {
      case Some(t) => t.span(layer, phase, op)(body)
      case None => body
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadAvg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  /** Aggregate CPU ticks of the host from /proc/stat (user .. steal). */
  private def cpuTicks(): Array[Long] =
    new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .trim.split("\\s+").slice(1, 9).map(_.toLong)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Expected outputs of one data set, from the oracle. */
  final class Expected(w: Workload, cols: Cols) {
    val oracle = new Reference.Oracle(cols)
    val paths: Map[String, Reference.Path] =
      (w.criteria :+ "jmi").distinct.map(c => c -> oracle.path(c, w.K)).toMap
    private val colSum = mutable.HashMap.empty[Int, Long]
    def sum(features: Seq[Int]): Long = features.map(f =>
      colSum.getOrElseUpdate(f, cols.column(f).map(b => (b & 0xFF).toLong).sum)).sum

    private val jmi = paths("jmi").steps.map(_._1).toSet
    require(jmi(w.planted.xorA) && jmi(w.planted.xorB),
      s"JMI path ${paths("jmi").steps.map(_._1).mkString(",")} misses the xor pair " +
        s"${w.planted.xorA},${w.planted.xorB}: the generator's planted structure failed")
    paths.foreach { case (c, p) =>
      require(p.minGap > ScoreTol, s"$c path has a near-tie (gap ${p.minGap})")
    }
  }

  /** Aggregate of the transformed rows: (rows, rows whose output has k
    * entries, sum of all output values). */
  private def checkTransform(out: DataFrame, outCol: String, k: Int): (Long, Long, Double) = {
    val stats = udf { v: Vector => (v.size, v.toArray.sum) }
    val r = out.select(stats(col(outCol)).as("s"))
      .agg(count(lit(1)), sum(when(col("s._1") === k, 1L).otherwise(0L)), sum(col("s._2"))).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** Runs one operation; on a failed check `error` says which. */
  def runOp(w: Workload, dir: String, exp: Expected, op: Int,
      tr: Option[Tracer]): OpRec = {
    val crit = w.criterion(op)
    val t0 = System.nanoTime()
    var fitS = Double.NaN; var trS = Double.NaN; var rows = 0L
    val error = try {
      val (input, fcol) = w.prepare(w.opRead(dir, tr, op), tr, op)
      val t1 = System.nanoTime()
      val model = traced(tr, "ml.InfoThSelector", "fit", op) {
        new InfoThSelector().setCriterion(crit).setNumTopFeatures(w.K)
          .setFeaturesCol(fcol).setLabelCol("label").fit(input)
      }
      fitS = secs(t1)
      val replayErr = tr.flatMap { t =>
        val replayed = replay(t, op, input, fcol, crit, w.K)
        Reference.compare(model.selectionPath, replayed, 0.0).map("replay differs from fit: " + _)
      }
      val want = exp.paths(crit).steps
      val t2 = System.nanoTime()
      val (n, sizeOk, total) = traced(tr, "ml.InfoThSelectorModel", "transform", op) {
        val r = checkTransform(model.transform(input), model.getOutputCol, w.K)
        tr.foreach(_.spans.filter(_.layer == "ml.InfoThSelectorModel").last
          .attrs("gather_rows") = r._1.toDouble)
        r
      }
      trS = secs(t2); rows = n
      val expectedSum = exp.sum(want.map(_._1).toSeq)
      replayErr
        .orElse(Reference.compare(want, model.selectionPath, ScoreTol).map(s"$crit fit: " + _))
        .orElse(if (n != w.nRows) Some(s"transform returned $n rows, want ${w.nRows}") else None)
        .orElse(if (sizeOk != n) Some(s"${n - sizeOk} transformed rows lack ${w.K} entries") else None)
        .orElse(if (total != expectedSum.toDouble) Some(s"transform values sum to $total, want $expectedSum") else None)
    } catch {
      case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    OpRec(op, crit, secs(t0), fitS, trS, rows, error)
  }

  /** `InfoThSelector.select`'s sequence replayed through the layers' public
    * functions, one span per call. */
  def replay(t: Tracer, op: Int, input: DataFrame, fcol: String, crit: String,
      k: Int): Array[(Int, Double)] = {
    val colData = t.span("core.Columnar", "transpose", op) {
      Columnar.fromLabeledDf(
        input.select(col("label").cast("double").as("label"), col(fcol).as("features")))
    }
    try {
      t.span("bench", "aux", op) {
        val s = t.spans.last
        s.attrs("records") = colData.data.count().toDouble
        s.attrs("cached_bytes") = colData.data.sparkContext.getRDDStorageInfo
          .filter(_.id == colData.data.id).map(i => i.memSize + i.diskSize).sum.toDouble
      }
      val n = colData.nInstances
      val tables2 = t.span("core.Histograms", "relevance", op) {
        Histograms.histogram2D(colData).collect()
      }
      val relevances = t.span("core.InfoTheory", "relevance", op) {
        t.spans.last.attrs("tables") = tables2.length
        tables2.map { case (f, h) => (f, InfoTheory.mutualInfo(h, n)) }
      }
      val nSel = math.min(k, colData.nFeatures)
      if (crit == InfoThCriterionFactory.Mim) t.span("core.InfoThCriterion", "rank", op) {
        t.spans.last.attrs("candidates") = relevances.length
        relevances.sortBy { case (f, r) => (-r, f) }.take(nSel)
      } else greedy(t, op, colData, relevances, crit, nSel)
    } finally colData.unpersist()
  }

  /** Argmax over valid criteria, ties to the lowest index, as `select` does. */
  private def argmax(criteria: Array[(Int, InfoThCriterion)]): (Int, InfoThCriterion) = {
    var best: (Int, InfoThCriterion) = null
    criteria.foreach { case c @ (f, cr) =>
      if (cr.valid && (best == null || cr.score > best._2.score ||
          (cr.score == best._2.score && f < best._1))) best = c
    }
    best
  }

  private def greedy(t: Tracer, op: Int, colData: ColumnarData,
      relevances: Array[(Int, Double)], crit: String, nSel: Int): Array[(Int, Double)] = {
    val n = colData.nInstances
    val (criteria, first) = t.span("core.InfoThCriterion", "init", op) {
      t.spans.last.attrs("candidates") = relevances.length
      val cs = relevances.map { case (f, rel) => f -> InfoThCriterionFactory(crit).init(rel) }
      (cs, argmax(cs))
    }
    val selected = mutable.ArrayBuffer.empty[(Int, Double)]
    var best = first
    while (selected.length < nSel) {
      val (maxFeat, maxCrit) = best
      selected += ((maxFeat, maxCrit.score))
      maxCrit.setValid(false)
      if (selected.length < nSel) {
        val tables3 = t.span("core.Histograms", "round", op) {
          Histograms.histogram3D(colData, maxFeat).collect()
        }
        val redundancies = t.span("core.InfoTheory", "round", op) {
          t.spans.last.attrs("tables") = tables3.length
          tables3.map { case (f, h) => (f, InfoTheory.miAndCmi(h, n)) }.toMap
        }
        best = t.span("core.InfoThCriterion", "fold", op) {
          criteria.foreach { case (f, cr) =>
            if (cr.valid) redundancies.get(f).foreach { case (mi, cmi) => cr.update(mi, cmi) }
          }
          argmax(criteria)
        }
      }
    }
    selected.toArray
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val reps = a("reps").toInt; val dataRoot = a("data"); val outPath = a("out")
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$nproc]").appName("selbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dataRoot/spark-local")
      .config("spark.sql.warehouse.dir", s"$dataRoot/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)

    val w: Workload = workload match {
      case "dense-tall" => new DenseTall(spark, seed, a("rows").toInt)
      case "reference-fits" => new ReferenceFits(spark, seed, a("rows").toInt)
      case "sparse-libsvm" => new SparseLibSvm(spark, seed, a("rows").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: generate + write and the oracle, repeated; then untimed
    // warm-up operations on the last inputs (one leaves the first timed
    // operations still compiling hot paths).
    val setupReps = (0 until reps).map { r =>
      val dir = s"$dataRoot/$workload-s$seed-r$r"
      deleteTree(new File(dir))
      val tg = System.nanoTime(); w.generate(dir); val genS = secs(tg)
      val to = System.nanoTime(); val exp = new Expected(w, w.oracleCols(dir)); val refS = secs(to)
      (dir, exp, genS, refS)
    }
    val (dir, exp, _, _) = setupReps.last
    setupReps.init.foreach { case (d, _, _, _) => deleteTree(new File(d)) }
    val tw = System.nanoTime()
    (1 to WarmupOps).foreach { i =>
      runOp(w, dir, exp, -i, None).error.foreach(e =>
        throw new IllegalStateException(s"warm-up failed: $e"))
    }
    val warmS = secs(tw)

    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext); spark.sparkContext.addSparkListener(t); Some(t)
    } else None
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val tl = System.nanoTime()
    val deadline = tl + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val i = ops.length
      val rec = traced(tracer, "bench", "op", i)(runOp(w, dir, exp, i, tracer))
      ops += rec
    }
    val loopS = secs(tl)
    tracer.foreach(_.drain())

    val ticks = cpuTicks().zip(ticksStart).map { case (b, a) => b - a }
    import Json._
    val result = obj(
      "workload" -> str(workload), "seed" -> num(seed), "trace" -> bool(trace),
      "host" -> obj("nproc" -> num(nproc),
        "load_start" -> arr(loadStart.map(num)), "load_end" -> arr(loadAvg().map(num)),
        "steal_share" -> num(ticks(7).toDouble / math.max(ticks.sum, 1L)),
        "java" -> str(System.getProperty("java.version")),
        "spark" -> str(spark.version),
        "scala" -> str(scala.util.Properties.versionNumberString)),
      "shape" -> obj((w.shape.map { case (k, v) => k -> str(v) } :+ ("k" -> num(w.K))): _*),
      "planted" -> obj("informative" -> arr(w.planted.informative.map(num(_))),
        "copies" -> arr(w.planted.copies.map(num(_))),
        "xor" -> arr(Seq(num(w.planted.xorA), num(w.planted.xorB)))),
      "expected" -> obj(exp.paths.toSeq.sortBy(_._1).map { case (c, p) =>
        c -> obj("path" -> arr(p.steps.map(s => num(s._1))), "min_gap" -> num(p.minGap))
      }: _*),
      "setup" -> obj("session_s" -> num(sessionS),
        "reps" -> arr(setupReps.map { case (_, _, g, r) =>
          obj("generate_s" -> num(g), "reference_s" -> num(r))
        }),
        "warmup_s" -> num(warmS)),
      "loop_s" -> num(loopS),
      "ops" -> arr(ops.map(o => obj("op" -> num(o.op), "criterion" -> str(o.criterion),
        "pipeline_s" -> num(o.pipelineS), "fit_s" -> num(o.fitS),
        "transform_s" -> num(o.transformS), "rows" -> num(o.rows),
        "error" -> o.error.map(str).getOrElse("null")))),
      "trace" -> tracer.map(_.toJson).getOrElse("null"))
    Files.write(Paths.get(outPath), result.getBytes("UTF-8"))
    spark.stop()
    deleteTree(new File(dir))
  }
}
