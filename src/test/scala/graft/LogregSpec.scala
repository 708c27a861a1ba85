package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.similarity.Logreg

/** Trainer correctness for the logistic-regression quality classifier.
  * The synthetic embeddings are only weakly linearly separable, so the
  * spec pins what a TRAINER owes regardless of data quality: the
  * gradient matches a single-machine reference computation, full-batch
  * GD on the convex log-loss decreases it monotonically, results are
  * bit-deterministic across runs, and the learned scores separate the
  * classes in the right direction.
  */
class LogregSpec extends GraftSpec {

  test("GD loss decreases monotonically over the registered run") {
    val hist = Logreg.logregHistory(spark, Dir).orderBy(col("iter")).collect()
      .map(r => r.getAs[Double]("loss"))
    assert(hist.length == 8)
    hist.sliding(2).foreach { case Array(a, b) =>
      assert(b < a, s"loss went up: $a -> $b in ${hist.mkString(",")}")
    }
  }

  test("one GD step matches a single-machine gradient computation") {
    // reference: plain-double full-batch gradient at w = 0, b = 0,
    // where sigmoid(0) = 0.5 exactly — so err = 0.5 - y per row and
    // the expected first-step weights are lr/n * sum((y - 0.5) x_j)
    val rows = graft.sources.Tables(spark, Dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
      .withColumn("nrm", norm(col("v")))
      .collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Double]]("v").toArray
        val nrm = r.getAs[Double]("nrm")
        (v.map(_ / nrm), if (r.getAs[Int]("label") == 0) 1.0 else 0.0)
      }
    val n = rows.length.toDouble
    val dims = rows.head._1.length
    val lr = 5.0
    val expectedW = Array.tabulate(dims) { j =>
      lr / n * rows.map { case (x, y) => (y - 0.5) * x(j) }.sum
    }

    val eN = graft.sources.Tables(spark, Dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"),
        col("label").cast("long").as("label"),
        when(col("label") === 0, 1.0).otherwise(0.0).as("y"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
      .select(col("vec_id"), col("label"), col("y"),
        transform(col("v"), x => x / col("nrm")).as("vn"))
      .localCheckpoint()
    val ((w1, b1), _) = Logreg.train(eN, dims, iters = 1, lr = lr)
    // per-row terms are rounded to 9 dp before the DECIMAL sum, so
    // agreement with the plain-double reference is ~n·5e-10 at worst
    w1.zip(expectedW).zipWithIndex.foreach { case ((got, exp), j) =>
      assert(math.abs(got - exp) < 1e-6, s"dim $j: $got vs $exp")
    }
    assert(math.abs(b1 - lr / n * rows.map { case (_, y) => y - 0.5 }.sum) < 1e-6)
  }

  test("the trainers fail loudly on a short or null vn") {
    val s = spark
    import s.implicits._
    val ok = Seq(0.6, 0.8, 0.0)
    val eN = Seq((1L, 1.0, ok), (2L, 0.0, ok.take(2)), (2L, 0.0, null))
      .toDF("label", "y", "vn")
    val bin = intercept[IllegalArgumentException](Logreg.train(eN, 3, iters = 1, lr = 1.0))
    assert(bin.getMessage.contains("2 of 3 training rows"), bin.getMessage)
    val ovr = intercept[IllegalArgumentException](
      Logreg.trainOvr(eN, Seq(1L, 2L), 3, iters = 1, lr = 1.0))
    assert(ovr.getMessage.contains("2 of 3 training rows"), ovr.getMessage)
    // the contract holds for well-formed rows of the same shape
    val ((w, _), _) = Logreg.train(eN.filter(col("label") === 1L), 3, iters = 1, lr = 1.0)
    assert(w.length == 3)
  }

  test("scores are deterministic and separate the classes in direction") {
    val a = Logreg.logregScore(spark, Dir).localCheckpoint()
    val b = Logreg.logregScore(spark, Dir)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    val m = a.groupBy(col("y")).agg(avg(col("score")).as("m"))
      .collect().map(r => r.getAs[Long]("y") -> r.getAs[Double]("m")).toMap
    assert(m(1L) > m(0L),
      s"positive-class mean score ${m(1L)} not above negative ${m(0L)}")
    assert(a.count() == graft.sources.Tables(spark, Dir).embeddings.count())
  }

  test("no-explode fused aggregate == the exploded dims-group reference, bit-for-bit (optimization r16)") {
    // the r16 trainer computes the per-round gradient with ONE global
    // aggregate over the doc frame (GradTermsArr + SumxArrAgg) — this
    // pins it against the r15 shape it replaced: posexplode pinned,
    // error join, dims-group sumx with bias sums guarded to dim-0
    // rows.  The DECIMAL route makes both orders produce the SAME
    // sums, so the trained model may not drift by a single bit.
    import graft.functions.Exact.{roundx, sumx}
    def scoreRef(w: Array[Double], b: Double) =
      lit(1.0) / (lit(1.0) +
        exp(-(dot(col("vn"), lit(w)) + element_at(lit(Array(b)), 1))))
    val eN = Logreg.preparedAll(spark, Dir).localCheckpoint()
    val labels = eN.select(col("label")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val dims = 64
    val iters = 2
    val lr = 10.0
    val (wN, bN) = Logreg.trainOvr(eN, labels, dims, iters, lr)

    // the r15 reference shape, verbatim
    val n = eN.count().toDouble
    val ex = eN.select(col("vec_id"), posexplode(col("vn")).as(Seq("dim", "x")))
      .localCheckpoint()
    val ws = Array.fill(labels.size)(Array.fill(dims)(0.0))
    val bs = Array.fill(labels.size)(0.0)
    for (_ <- 1 to iters) {
      val errCols = labels.indices.map { j =>
        (scoreRef(ws(j), bs(j)) -
          when(col("label") === labels(j), 1.0).otherwise(0.0)).as(s"err_$j")
      }
      val docErr = eN.select(col("vec_id") +: errCols: _*)
      val gAggs = labels.indices.map(j =>
        sumx(roundx(col(s"err_$j") * col("x"), 9)).as(s"g_$j"))
      val eAggs = labels.indices.map(j =>
        sumx(when(col("dim") === 0, roundx(col(s"err_$j"), 9))).as(s"e_$j"))
      val aggs = gAggs ++ eAggs
      val g = ex.join(broadcast(docErr), Seq("vec_id"))
        .groupBy(col("dim")).agg(aggs.head, aggs.tail: _*).collect()
      val byDim = g.map(r => r.getAs[Int]("dim") -> r).toMap
      labels.indices.foreach { j =>
        (0 until dims).foreach(d =>
          ws(j)(d) -= lr * byDim(d).getAs[Double](s"g_$j") / n)
        bs(j) -= lr * byDim(0).getAs[Double](s"e_$j") / n
      }
    }
    labels.indices.foreach { j =>
      assert(java.util.Arrays.equals(wN(j), ws(j)),
        s"class $j weights differ between fused and exploded aggregates")
      assert(bN(j) == bs(j), s"class $j bias differs: ${bN(j)} vs ${bs(j)}")
    }
  }
}
