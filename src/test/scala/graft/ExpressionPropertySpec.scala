package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check => scCheck, Parameters}

/** Property-based checks of the native expression layer against plain
  * Scala reference implementations — randomized inputs catch the
  * boundary cases fixed corpora miss (the round-3 `1L << 64` wrap was
  * exactly such a case). */
class ExpressionPropertySpec extends GraftSpec {

  private def holds(p: Prop): Unit = {
    val r = scCheck(Parameters.default.withMinSuccessfulTests(60), p)
    assert(r.passed, r.status.toString)
  }

  private val tokenGen = Gen.oneOf("a", "b", "c", "ab", "a b") // includes a space-carrying merged token
  private val toksGen = Gen.listOfN(12, tokenGen).flatMap(l => Gen.choose(0, 12).map(l.take))

  test("BpeMergePair == greedy left-to-right reference on random streams") {
    val s = spark
    import s.implicits._
    def ref(d: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < d.length) {
        if (i + 1 < d.length && d(i) == a && d(i + 1) == b) { out += s"$a $b"; i += 2 }
        else { out += d(i); i += 1 }
      }
      out.result()
    }
    holds(forAll(toksGen, tokenGen, tokenGen) { (toks, a, b) =>
      val got = Seq(toks).toDF("toks")
        .select(graft.functions.BpeMergePair(col("toks"), a, b)).head().getSeq[String](0)
      got == ref(toks.toVector, a, b)
    })
  }

  test("BpeEncode greedy apply == R-sweep on random arrays under training-ordered merges") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(toks: Seq[String]): ArrayData =
      ArrayData.toArrayData(toks.map(UTF8String.fromString).toArray)
    def strs(a: ArrayData): Vector[String] =
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toVector
    // random TRAINING-ORDERED merge lists: each merge's inputs are
    // base tokens or outputs of strictly earlier merges — the
    // invariant every real trainer emits and the greedy path requires
    val base = Vector("a", "b", "c", "d")
    val mergesGen: Gen[List[(String, String)]] =
      Gen.choose(1, 10).flatMap { n =>
        def step(vocab: Vector[String], left: Int,
            acc: List[(String, String)]): Gen[List[(String, String)]] =
          if (left == 0) Gen.const(acc.reverse)
          else for {
            a <- Gen.oneOf(vocab)
            b <- Gen.oneOf(vocab)
            r <- step(vocab :+ s"$a $b", left - 1, (a, b) :: acc)
          } yield r
        step(base, n, Nil)
      }
    val rowGen = Gen.choose(0, 16)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(base)))
    // equality must hold regardless of the validator's verdict (a
    // duplicate random pair re-produces an output string and trips
    // the conservative check → sweep fallback, still equal); the
    // majority of drawn lists validate and exercise the greedy path
    holds(forAll(mergesGen, rowGen) { (merges, toks) =>
      val e = graft.functions.BpeEncode(
        org.apache.spark.sql.catalyst.expressions.Literal(null), merges)
      strs(e.compute(arr(toks))) == strs(e.computeSweep(arr(toks)))
    })
  }

  test("SqDist == HOF zip_with/aggregate fold, bit for bit, on random vectors (r15)") {
    val s = spark
    import s.implicits._
    import graft.functions.VectorFunctions.sqdist
    val vecGen = Gen.choose(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3)))
    holds(forAll(vecGen, vecGen) { (a0, b0) =>
      // common-prefix semantics: fold the shorter length, like the
      // production use (fixed-width projections make it moot there)
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      val df = Seq((a, b)).toDF("a", "b")
      val native = df.select(sqdist(col("a"), col("b"))).head().getDouble(0)
      val hof = df.select(aggregate(zip_with(col("a"), col("b"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
        .head().getDouble(0)
      // bit-identical, not approximately equal: same ops, same order
      java.lang.Double.doubleToRawLongBits(native) ==
        java.lang.Double.doubleToRawLongBits(hof)
    })
  }

  test("ToDoubleArr == transform cast, NormalizeArr == checkpoint-free divide, bit for bit (r15)") {
    val s = spark
    import s.implicits._
    import graft.functions.VectorFunctions.{dot, normalize, toDouble}
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val fvecGen = Gen.choose(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3f, 1e3f)))
    holds(forAll(fvecGen) { v =>
      val df = Seq(Tuple1(v)).toDF("f")
      val native = df.select(toDouble(col("f"))).head().getSeq[Double](0)
      val hof = df.select(transform(col("f"), x => x.cast("double")))
        .head().getSeq[Double](0)
      bits(native) == bits(hof)
    })
    // zero-norm vectors are EXCLUDED from the equivalence property:
    // under ANSI (the session default) the old HOF divide THROWS
    // DIVIDE_BY_ZERO on them, while NormalizeArr keeps IEEE semantics
    // (x/0 → NaN/±Infinity) — pinned separately below.  No engine
    // input carries a zero vector (embeddings are dense non-zero; the
    // full 228-query Verify diff was bit-identical), so the divergence
    // is unobservable on data; NaN is the more graceful boundary.
    val dvecGen = Gen.choose(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3)))
      .suchThat(v => v.exists(_ != 0.0))
    holds(forAll(dvecGen) { v =>
      val df = Seq(Tuple1(v)).toDF("v")
      val native = df.select(normalize(col("v"))).head().getSeq[Double](0)
      // the pre-r15 shape: norm as a materialized leaf, HOF divide
      val hof = df.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .localCheckpoint(false)
        .select(transform(col("v"), x => x / col("nrm")))
        .head().getSeq[Double](0)
      bits(native) == bits(hof)
    })
    // the zero-norm boundary, pinned deterministically
    val z = Seq(Tuple1(Seq(0.0, 0.0))).toDF("v")
      .select(normalize(col("v"))).head().getSeq[Double](0)
    assert(z.forall(_.isNaN), s"zero-norm normalize must be NaN per slot, got $z")
  }

  test("SortedIntersectCount == size(array_intersect) on sorted distinct longs (r15)") {
    val s = spark
    import s.implicits._
    val setGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue)))
      .map(_.distinct.sorted)
    holds(forAll(setGen, setGen) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val native = df.select(graft.functions.VectorFunctions
        .sortedIntersectCount(col("a"), col("b"))).head().getInt(0)
      val ref = df.select(size(array_intersect(col("a"), col("b"))))
        .head().getInt(0)
      native == ref
    })
  }

  test("GradTermsArr/SumxArrAgg == roundx transform + exploded dims-group sumx, bit for bit (r16)") {
    val s = spark
    import s.implicits._
    import graft.functions.VectorFunctions.{gradTerms, sumxArr}
    import graft.functions.Exact.{roundx, sumx}
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    val dims = 6
    val rowGen = for {
      v <- Gen.listOfN(dims, Gen.chooseNum(-1e3, 1e3))
      e <- Gen.chooseNum(-10.0, 10.0)
    } yield (v, e)
    val rowsGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, rowGen))
    holds(forAll(rowsGen) { rows =>
      val df = rows.toDF("vn", "err")
      // per-row terms: native == the HOF roundx transform
      val natRows = df.select(gradTerms(col("vn"), col("err")))
        .collect().map(_.getSeq[Double](0))
      val hofRows = df.select(transform(col("vn"),
          x => roundx(col("err") * x, 9)))
        .collect().map(_.getSeq[Double](0))
      val rowsEq = natRows.zip(hofRows).forall { case (a, b) => bits(a) == bits(b) }
      // the elementwise fold: native == posexplode + dims-group sumx
      val nat = df.agg(sumxArr(gradTerms(col("vn"), col("err"))))
        .head().getSeq[Double](0)
      val ref = df.select(col("err"), posexplode(col("vn")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(sumx(roundx(col("err") * col("x"), 9)).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val aggEq = nat.zipWithIndex.forall { case (g, j) =>
        java.lang.Double.doubleToRawLongBits(g) ==
          java.lang.Double.doubleToRawLongBits(ref(j))
      }
      rowsEq && aggEq
    })
  }

  test("SumxArrAgg fails loudly past its 2^63-unscaled-unit ceiling (~9.22e12)") {
    val s = spark
    import s.implicits._
    import graft.functions.VectorFunctions.sumxArr
    // 5e12 + 5e12 = 1e13 unscaled-at-6dp overflows the long accumulator;
    // 4e12 + 4e12 = 8e12 still sums exactly
    val under = Seq(Seq(4e12), Seq(4e12)).toDF("v").agg(sumxArr(col("v")))
      .head().getSeq[Double](0)
    assert(under == Seq(8e12))
    val e = quietExpectedFailures(intercept[Exception](
      Seq(Seq(5e12), Seq(5e12)).toDF("v").agg(sumxArr(col("v"))).collect()))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]),
      s"expected an ArithmeticException in the cause chain, got $e")
  }

  test("GramHashes positional/distinct modes agree on gram identity") {
    val s = spark
    import s.implicits._
    holds(forAll(toksGen, Gen.choose(1, 4)) { (toks, k) =>
      val df = Seq(toks).toDF("toks")
      val pos = df.select(graft.functions.GramHashes.positional(col("toks"), k))
        .head().getSeq[Long](0)
      val dis = df.select(graft.functions.GramHashes(col("toks"), k))
        .head().getSeq[Long](0)
      // positional emits n-k+1 hashes in order; distinct = first-seen
      // order dedup of exactly those
      pos.length == math.max(toks.length - k + 1, 0) &&
        dis == pos.distinct
    })
  }

  test("TopTokenCount == max groupBy count on random token streams") {
    val s = spark
    import s.implicits._
    holds(forAll(toksGen) { toks =>
      val got = Seq(toks).toDF("toks")
        .select(graft.functions.TopTokenCount(col("toks"))).head().getLong(0)
      val ref = if (toks.isEmpty) 0L
        else toks.groupBy(identity).map(_._2.length).max.toLong
      got == ref
    })
  }

  test("FirstMatchingBand == naive band scan on random signatures") {
    val s = spark
    import s.implicits._
    val sigGen = Gen.listOfN(2, Gen.long)
    val widthGen = Gen.oneOf(1, 2, 4, 8, 16, 32, 64)
    holds(forAll(sigGen, sigGen, widthGen) { (a, b, bits) =>
      val bands = 128 / bits // 2 words of 64 bits
      def ref: Long = {
        val mask = -1L >>> (64 - bits)
        (0 until bands).collectFirst {
          case band if {
            val word = band * bits / 64
            val off = (band * bits) % 64
            (((a(word) ^ b(word)) >>> off) & mask) == 0L
          } => band.toLong
        }.getOrElse(-1L)
      }
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.FirstMatchingBand(col("a"), col("b"), bits, bands))
        .head().getLong(0)
      got == ref
    })
  }

  test("Misra-Gries guarantees survive random streams, merge splits, and serde") {
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.oneOf((0 until 12).map(i => s"t$i"))
    val streamGen = Gen.listOfN(300, tokGen)
    val kGen = Gen.oneOf(1, 2, 4, 7)
    val cutsGen = Gen.listOfN(3, Gen.choose(0, 300))
    // the expression instance is only a serde handle here (k matters,
    // the child does not)
    def summaries(k: Int) =
      graft.functions.MisraGries(
        org.apache.spark.sql.catalyst.expressions.Literal(null), k)
    holds(forAll(streamGen, kGen, cutsGen) { (toks, k, cuts) =>
      val agg = summaries(k)
      // split the stream at random cut points, build one summary per
      // segment (update path), then fold via SERIALIZED merge — the
      // exact partial-aggregation lifecycle
      val bounds = (cuts.sorted :+ toks.length).distinct
      val segs = (0 +: bounds).zip(bounds).map { case (a, b) => toks.slice(a, b) }
      val merged = segs.map { seg =>
        val s = agg.createAggregationBuffer()
        seg.foreach(t => s.offer(UTF8String.fromString(t)))
        agg.deserialize(agg.serialize(s)) // serde roundtrip per partial
      }.reduce { (a, b) => a.mergeIn(b); a }
      val got = {
        import scala.jdk.CollectionConverters._
        merged.counts.asScala.map { case (t, c) => t.toString -> c.longValue() }.toMap
      }
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.length.toDouble
      val bound = n / (k + 1)
      val coverage = exact.forall { case (t, c) => c <= bound || got.contains(t) }
      val under = got.forall { case (t, est) =>
        est <= exact.getOrElse(t, 0L) && exact.getOrElse(t, 0L) - est <= bound
      }
      coverage && under && got.size <= k
    })
  }

  test("CovMoments == quantize-then-multiply reference on random vectors") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dims = 8
    val expr = graft.functions.CovMoments(
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(null, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), dims)
    val vecGen = Gen.listOfN(dims, Gen.chooseNum(-1.0f, 1.0f))
    holds(forAll(vecGen) { xs =>
      val got = expr.compute(new GenericArrayData(xs.toArray))
      val q = xs.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
      val want =
        (for (i <- 0 until dims; j <- i until dims) yield (i, j, q(i) * q(j))) ++
          (0 until dims).map(i => (i, -1, q(i))) :+ ((-1, -1, 1L))
      val rows = (0 until got.numElements()).map { n =>
        val r = got.getStruct(n, 3)
        (r.getInt(0), r.getInt(1), r.getLong(2))
      }
      rows == want
    })
  }
}
