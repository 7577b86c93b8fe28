package graft.core

import org.apache.spark.ml.linalg.Vectors

import graft.SparkSpec

class ColumnarSpec extends SparkSpec {

  private def labeledDf(rows: Seq[(Double, Array[Double])]) = {
    val data = rows.map { case (l, v) => (l, Vectors.dense(v)) }
    spark.createDataFrame(data).toDF("label", "features")
  }

  test("transpose reconstructs columns and infers cardinality") {
    val rows = Seq(
      (0.0, Array(1.0, 4.0)),
      (1.0, Array(2.0, 5.0)),
      (0.0, Array(3.0, 4.0)),
      (1.0, Array(1.0, 6.0)))
    val col = Columnar.fromLabeledDf(labeledDf(rows).repartition(2))
    assert(col.nFeatures == 2)
    assert(col.nInstances == 4)
    assert(col.labelIndex == 2)
    // cardinality = max+1 per column
    assert(col.cardinality(0) == 4)  // max 3
    assert(col.cardinality(1) == 7)  // max 6
    assert(col.cardinality(2) == 2)  // labels {0,1}
    // multiset of values per feature is preserved
    val f0 = col.collectColumn(0).values.flatten.map(_.toInt).toSeq.sorted
    assert(f0 == Seq(1, 1, 2, 3))
    val lbl = col.collectColumn(2).values.flatten.map(_.toInt).toSeq.sorted
    assert(lbl == Seq(0, 0, 1, 1))
    // within-block alignment: rebuild rows from columns
    val blocks0 = col.collectColumn(0)
    val blocks1 = col.collectColumn(1)
    val blocksL = col.collectColumn(2)
    val rebuilt = blocks0.keys.toSeq.sorted.flatMap { b =>
      blocks0(b).toSeq.lazyZip(blocks1(b).toSeq).lazyZip(blocksL(b).toSeq)
        .map((a, c, l) => (l.toDouble, Array(a.toDouble, c.toDouble)))
    }
    assert(rebuilt.map(r => (r._1, r._2.mkString(","))).sorted.toSeq ==
      rows.map(r => (r._1, r._2.mkString(","))).sorted)
    col.unpersist()
  }

  test("sparse vectors stay sparse and reconstruct with implicit zeros") {
    val data = Seq(
      (1.0, Vectors.sparse(4, Array(1, 3), Array(2.0, 7.0))),
      (0.0, Vectors.sparse(4, Array(0), Array(5.0))))
    val df = spark.createDataFrame(data).toDF("label", "features")
    val col = Columnar.fromLabeledDf(df)
    // feature blocks are SparseBlocks (no densification in the cache)
    val kinds = col.data.flatMap(_.cols.map(_.getClass.getSimpleName))
      .distinct().collect().toSet
    assert(kinds == Set("SparseBlock"))
    assert(col.collectColumn(0).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 5))
    assert(col.collectColumn(1).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 2))
    assert(col.collectColumn(2).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 0))
    assert(col.collectColumn(3).values.flatten.map(_.toInt).toSeq.sorted == Seq(0, 7))
    col.unpersist()
  }

  test("sparse histograms equal dense histograms on the same data") {
    val rng = new scala.util.Random(11)
    val n = 300
    // ~80% zeros in both features
    val xs = Seq.fill(n)(if (rng.nextInt(5) == 0) 1 + rng.nextInt(4) else 0)
    val ys = Seq.fill(n)(if (rng.nextInt(5) == 0) 1 + rng.nextInt(3) else 0)
    val lbl = Seq.fill(n)(rng.nextInt(3))
    val sparseRows = (0 until n).map { i =>
      (lbl(i).toDouble, Vectors.dense(xs(i).toDouble, ys(i).toDouble).toSparse
        .asInstanceOf[org.apache.spark.ml.linalg.Vector])
    }
    val denseRows = (0 until n).map { i =>
      (lbl(i).toDouble,
        Vectors.dense(xs(i).toDouble, ys(i).toDouble))
    }
    val sCol = Columnar.fromLabeledDf(
      spark.createDataFrame(sparseRows).toDF("label", "features").repartition(3))
    val dCol = Columnar.fromLabeledDf(
      spark.createDataFrame(denseRows).toDF("label", "features").repartition(3))
    assert(sCol.cardinality.toSeq == dCol.cardinality.toSeq)
    val h2s = Histograms.histogram2D(sCol).collect().toMap
    val h2d = Histograms.histogram2D(dCol).collect().toMap
    assert(h2s.keySet == h2d.keySet)
    h2s.foreach { case (f, h) =>
      assert(h.counts.toSeq == h2d(f).counts.toSeq, s"2D mismatch at f=$f")
    }
    val h3s = Histograms.histogram3D(sCol, 1).collect().toMap
    val h3d = Histograms.histogram3D(dCol, 1).collect().toMap
    assert(h3s(0).counts.toSeq == h3d(0).counts.toSeq)
    // frequencies kernel agrees too
    val fs = Histograms.frequenciesByFeature(sCol)
    val fd = Histograms.frequenciesByFeature(dCol)
    fs.foreach { case (f, a) => assert(a.toSeq == fd(f).toSeq) }
    sCol.unpersist(); dCol.unpersist()
  }

  test("block-major co-location: every block's columns share one partition") {
    val rng = new scala.util.Random(3)
    val rows = Seq.fill(64)((rng.nextInt(2).toDouble,
      Array(rng.nextInt(8).toDouble, rng.nextInt(8).toDouble)))
    val col = Columnar.fromLabeledDf(labeledDf(rows).repartition(5))
    val placement = col.data.mapPartitionsWithIndex { (pid, it) =>
      it.map(b => (b.id, (pid, b.cols.map(_.n).toSeq :+ b.label.length)))
    }.collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    placement.foreach { case (b, recs) =>
      // one partition per block…
      assert(recs.map(_._1).distinct.length == 1,
        s"block $b spread over partitions ${recs.map(_._1).distinct.toSeq}")
      // …holding every column of that block (features + label), aligned
      recs.foreach { case (_, lens) =>
        assert(lens.length == col.nFeatures + 1, s"block $b missing columns")
        assert(lens.distinct.length == 1, s"block $b columns misaligned: $lens")
      }
    }
    assert(placement.values.flatten.map(_._2.head.toLong).sum == col.nInstances)
    col.unpersist()
  }

  test("out-of-domain values are rejected") {
    intercept[org.apache.spark.SparkException] {
      Columnar.fromLabeledDf(labeledDf(Seq((0.0, Array(256.0))))).data.count()
    }
    intercept[org.apache.spark.SparkException] {
      Columnar.fromLabeledDf(labeledDf(Seq((0.0, Array(1.5))))).data.count()
    }
    // null label, null vector, empty input, mixed vector sizes (in one
    // block and across blocks): an IllegalArgumentException naming the
    // column (as the cause when it is thrown in a task)
    def rejection(df: org.apache.spark.sql.DataFrame): Throwable =
      intercept[Exception](Columnar.fromLabeledDf(df).data.count()) match {
        case e: org.apache.spark.SparkException if e.getCause != null => e.getCause
        case e => e
      }
    val nullLabel = spark.createDataFrame(Seq(
      (Some(1.0), Vectors.dense(1.0)), (Some(1.0), Vectors.dense(2.0)),
      (Option.empty[Double], Vectors.dense(3.0)))).toDF("label", "features")
    val nullVector = spark.createDataFrame(Seq(
      (1.0, Vectors.dense(1.0)), (0.0, null))).toDF("label", "features")
    // 8 rows in 4 partitions of 2 rows each, one block per partition
    def sized(sizes: Int*) = spark.createDataFrame(spark.sparkContext.parallelize(
      sizes.map(d => (0.0, Vectors.dense(Array.fill(d)(1.0)))), 4)).toDF("label", "features")
    val cases = Seq(
      nullLabel -> "'label'",
      nullVector -> "'features'",
      labeledDf(Seq.empty) -> "'features'",
      sized(1, 2, 1, 1, 1, 1, 1, 1) -> "'features'",
      sized(1, 1, 1, 1, 2, 2, 2, 2) -> "'features'")
    cases.foreach { case (df, column) =>
      val e = rejection(df)
      assert(e.isInstanceOf[IllegalArgumentException], s"got $e")
      assert(e.getMessage.contains(column), e.getMessage)
    }
  }

  test("histogram2D/3D match brute-force counts") {
    val rng = new scala.util.Random(7)
    val n = 200
    val xs = Seq.fill(n)(rng.nextInt(6))
    val ys = Seq.fill(n)(rng.nextInt(4))
    val lbl = Seq.fill(n)(rng.nextInt(3))
    val rows = (0 until n).map { i =>
      (lbl(i).toDouble, Array(xs(i).toDouble, ys(i).toDouble))
    }
    val col = Columnar.fromLabeledDf(labeledDf(rows).repartition(3))

    val h2 = Histograms.histogram2D(col).collect().toMap
    assert(h2.keySet == Set(0, 1))
    val expected2 = Brute.hist2d(xs, lbl)
    assert(h2(0).counts.toSeq == expected2.counts.toSeq)
    assert(h2(0).total == n)

    // x vs y=feature1, z=label (y read partition-locally, label rides
    // with the blocks)
    val h3 = Histograms.histogram3D(col, 1)
      .collect().toMap
    assert(h3.keySet == Set(0))
    val expected3 = Brute.hist3d(xs, ys, lbl)
    assert(h3(0).counts.toSeq == expected3.counts.toSeq)

    // distributed MI equals brute MI
    val miDist = h2.map { case (f, h) => f -> InfoTheory.mutualInfo(h, n) }
    assert(math.abs(miDist(0) - Brute.mi(xs, lbl)) < 1e-9)
    val (m, c) = InfoTheory.miAndCmi(h3(0), n)
    assert(math.abs(m - Brute.mi(xs, ys)) < 1e-9)
    assert(math.abs(c - Brute.cmi(xs, ys, lbl)) < 1e-9)
    col.unpersist()
  }
}
