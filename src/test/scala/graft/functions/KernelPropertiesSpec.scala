package graft.functions

import graft.SparkSpec
import graft.index.LshParams
import graft.pipeline.Dedup
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property checks for the index/pipeline kernels (pack, Hamming, MinHash,
  * SimHash, shingles) over seeded random cases — invariants a refactor
  * must not break. */
class KernelPropertiesSpec extends SparkSpec {
  import sqlImplicits._

  private val rnd = new scala.util.Random(42)
  private def floatArr(): Array[Float] =
    Array.fill(1 + rnd.nextInt(130))(rnd.nextFloat() * 20f - 10f)

  test("packLocal: popcount equals count of components >= threshold") {
    for (_ <- 1 to 60) {
      val v = floatArr(); val t = rnd.nextDouble() * 10 - 5
      val packed = PackBitsExpr.packLocal(v, t)
      val pop = packed.map(java.lang.Long.bitCount).sum
      assert(pop === v.count(_.toDouble >= t))
      assert(packed.length === (v.length + 63) / 64)
    }
  }

  test("hamming(pack(a), pack(a)) == 0; hamming is symmetric and bounded by dim") {
    for (_ <- 1 to 10) {
      val v = floatArr()
      val p = PackBitsExpr.packLocal(v, 0.0)
      val flipped = PackBitsExpr.packLocal(v.map(-_), 0.0)
      val df = Seq((p, p, flipped)).toDF("a", "b", "c")
      val r = df.select(
        Distances.hammingPacked($"a", $"b"),
        Distances.hammingPacked($"a", $"c"),
        Distances.hammingPacked($"c", $"a")).head()
      assert(r.getLong(0) === 0L)
      assert(r.getLong(1) === r.getLong(2))
      assert(r.getLong(1) <= v.length.toLong)
    }
  }

  test("ShingleHash: count is tokens-n+1, stable, and whitespace-normalization-invariant") {
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = Seq("alpha", "beta", "gamma", "delta", "Zeta")
    for (_ <- 1 to 40) {
      val ws = Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
      val text = ws.mkString(" ")
      val h1 = ShingleHash.compute(UTF8String.fromString(text), 3)
      val h2 = ShingleHash.compute(UTF8String.fromString("  " + ws.mkString("\t") + " \n"), 3)
      assert(h1.length === math.max(ws.length - 2, 0))
      assert(h1.toSeq === h2.toSeq, "hash must ignore whitespace shape")
      val upper = ShingleHash.compute(UTF8String.fromString(text.toUpperCase), 3)
      assert(h1.toSeq === upper.toSeq, "hash must be case-insensitive")
    }
  }

  test("MinHash signatures: equal shingle sets give equal signatures; permutation-invariant") {
    val base = Seq("a b c d e f g h i j")
    val perm = Seq("f g h i j a b c d e") // different shingles — differs
    val df = (base ++ base ++ perm).zipWithIndex.map(_.swap).toDF("id", "t")
      .select($"id", Dedup.minHashSignature(ShingleHashExpr($"t", 2), 32).as("sig"))
    val sigs = df.orderBy("id").collect().map(_.getSeq[Long](1))
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
  }

  test("SimHash: single-token text hashes to that token's bit pattern direction") {
    // with one token every counter is +1/-1 exactly per the token hash bits
    val df = Seq(Tuple1("lonely")).toDF("t")
    val sh = df.select(Dedup.simHash($"t")).head().getLong(0)
    val tok = df.select(element_at(transform(Dedup.tokens($"t"), w => xxhash64(w)), 1)).head().getLong(0)
    assert(sh === tok)
  }

  test("jaccard is 1 for identical shingle sets, 0 for disjoint, monotone under overlap") {
    val df = Seq(
      ("a b c d", "a b c d"),
      ("a b c d", "x y z w"),
      ("a b c d e", "c d e f g")).toDF("x", "y")
      .select(Dedup.jaccard(Dedup.shingles($"x", 2), Dedup.shingles($"y", 2)).as("j"))
    val js = df.collect().map(_.getDouble(0))
    assert(js(0) === 1.0)
    assert(js(1) === 0.0)
    assert(js(2) > 0.0 && js(2) < 1.0)
  }

  test("NearestCentroidExpr matches a driver replay: micro freeze, argmin, lower-id ties") {
    def micro(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    for (_ <- 1 to 20) {
      val dim = 1 + rnd.nextInt(40)
      val centers = Array.fill(1 + rnd.nextInt(6))(
        Array.fill(dim)(micro(rnd.nextFloat() * 4f - 2f)))
      val vecs = Seq.fill(15)(Array.fill(dim)(rnd.nextFloat() * 4f - 2f))
      val got = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
        .select($"id", NearestCentroidExpr($"v", centers).as("nc"))
        .collect().map(r => r.getLong(0) ->
          ((r.getStruct(1).getInt(0), r.getStruct(1).getLong(1)))).toMap
      for ((v, i) <- vecs.zipWithIndex) {
        val d2s = centers.map(c => v.indices.map(j => {
          val d = micro(v(j)) - c(j); d * d
        }).sum)
        val best = d2s.indices.minBy(k => (d2s(k), k))
        assert(got(i.toLong) === ((best, d2s(best))), s"vec $i")
      }
    }
  }

  test("ArgMinDist: argmin is the full-scan argmin (ties to the lower id); sqDistBelow stops only at its bound") {
    val rnd = new scala.util.Random(12)
    val specials = Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f)
    // quarter steps in [-3, 3]: distances often tie exactly
    def vec(n: Int, special: Double): Array[Float] = Array.fill(n)(
      if (rnd.nextDouble() < special) specials(rnd.nextInt(specials.length))
      else (rnd.nextInt(25) - 12) / 4f)
    /** Every distance summed in full; the first of the smallest wins. */
    def fullScan(v: Array[Float], centers: Array[Array[Float]]): (Int, Boolean) = {
      val ds = centers.map { c =>
        var s = 0.0
        for (i <- 0 until math.min(v.length, c.length)) { val d = v(i).toDouble - c(i); s += d * d }
        s
      }
      var best = 0; var bestD = Double.PositiveInfinity
      for (c <- ds.indices) if (ds(c) < bestD) { bestD = ds(c); best = c }
      (best, ds.count(_ == bestD) > 1)
    }
    var ties = 0; var stopped = 0
    for (trial <- 1 to 3000) {
      val dim = 1 + rnd.nextInt(12)
      val special = if (trial % 4 == 0) 0.15 else 0.0
      // centres of the table's width or, every third trial, of mixed widths
      val centers = Array.fill(1 + rnd.nextInt(24))(
        vec(if (trial % 3 == 0) 1 + rnd.nextInt(12) else dim, special))
      // planted exact ties: a later centre repeats an earlier one
      if (centers.length > 2 && trial % 2 == 0)
        centers(centers.length - 1) = centers(rnd.nextInt(centers.length - 1)).clone()
      // vectors shorter than, as long as and longer than the centres
      val v = vec(math.max(0, dim - 3 + rnd.nextInt(7)), special)
      val (want, tied) = fullScan(v, centers)
      if (tied) ties += 1
      assert(ArgMinDist.argmin(v, centers) === want, s"trial $trial")
      assert(ArgMinDist.compute(ArrayData.toArrayData(v), centers) === want, s"trial $trial")
      // the bounded fold: the full sum below the bound, else the full sum
      // or a partial sum at or above the bound; a NaN bound never stops it
      val c = centers(0)
      val full = ArgMinDist.sqDist(ArrayData.toArrayData(v), c)
      assert(ArgMinDist.sqDistBelow(v, c, Double.NaN).equals(full), s"trial $trial")
      for (bound <- Seq(0.0, full / 2, full, full * 2, Double.PositiveInfinity)) {
        val got = ArgMinDist.sqDistBelow(v, c, bound)
        if (!got.equals(full)) stopped += 1
        assert(if (full < bound) got.equals(full) else got.equals(full) || got >= bound,
          s"trial $trial, bound $bound: $got of $full")
      }
    }
    assert(ties > 300, s"only $ties trials had a tied minimum")
    assert(stopped > 300, s"only $stopped bounded folds stopped early")
  }

  test("CentroidDist2Expr matches the driver residual, including a missing label -> -1") {
    def micro(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    for (_ <- 1 to 20) {
      val dim = 1 + rnd.nextInt(40)
      val labels = Seq(3, 7, 11)
      val cents: Map[Int, Seq[Long]] =
        labels.map(l => l -> Seq.fill(dim)(micro(rnd.nextFloat() * 4f - 2f))).toMap
      val rows = Seq.fill(12)((labels :+ 99)(rnd.nextInt(4)))
        .zipWithIndex.map { case (l, i) =>
          (i.toLong, Array.fill(dim)(rnd.nextFloat() * 4f - 2f), l)
        }
      val got = rows.toDF("id", "v", "l")
        .select($"id", CentroidDist2Expr($"v", $"l", cents).as("d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.foreach { case (id, v, l) =>
        val want = cents.get(l).map(c =>
          v.indices.map(j => { val d = micro(v(j)) - c(j); d * d }).sum).getOrElse(-1L)
        assert(got(id) === want, s"row $id label $l")
      }
    }
  }

  test("every array kernel: interpreted eval ≡ generated code, bit for bit") {
    // `eval` (nullSafeEval) and a generated projection (doGenCode, with no
    // interpreted fallback) run the same rows; results compare as bits
    val rnd = new scala.util.Random(7)
    val dim = 24
    def floats(n: Int) = Array.fill(n)(rnd.nextFloat() * 4f - 2f)
    // lengths around dim: the kernels read min(|a|, |b|) elements
    def len() = dim - 3 + rnd.nextInt(7)
    def fArr() = ArrayData.toArrayData(floats(len()))
    def dArr() = ArrayData.toArrayData(Array.fill(len())(rnd.nextDouble() * 4 - 2))
    def lArr(n: Int) = ArrayData.toArrayData(Array.fill(n)(rnd.nextLong()))
    val FA = ArrayType(FloatType, containsNull = false)
    val DA = ArrayType(DoubleType, containsNull = false)
    val LA = ArrayType(LongType, containsNull = false)
    val IA = ArrayType(IntegerType, containsNull = false)
    def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
    def rows(n: Int)(cols: => Seq[Any]): Seq[InternalRow] =
      Seq.fill(n)(InternalRow.fromSeq(cols)) :+ InternalRow.fromSeq(cols.map(_ => null))

    val centers = Array.fill(9)(floats(dim))
    val micro = Array.fill(5)(Array.fill(dim)(NearestCentroid.micro(rnd.nextFloat() * 4 - 2)))
    val tables = Array.fill(6, 16)(rnd.nextDouble() * 10)
    def codes() = ArrayData.toArrayData(Array.fill(4 + rnd.nextInt(4))(rnd.nextInt(16)))
    val lsh = LshParams(dim, tableCount = 5, hashFunctionCount = 7, seed = 3)

    val arrayTypes = Seq(("float", FA, () => fArr()), ("double", DA, () => dArr()))
    val distances: Seq[(String, Expression, Seq[InternalRow])] = for {
      k <- DistanceKernel.values.toSeq
      (ln, lt, la) <- arrayTypes
      (rn, rt, ra) <- arrayTypes
    } yield (s"$k $ln×$rn", DistanceExpr(in(0, lt), in(1, rt), k), rows(40)(Seq(la(), ra())))
    val perType: Seq[(String, Expression, Seq[InternalRow])] = arrayTypes.flatMap {
      case (n, t, arr) => Seq(
        (s"magnitude $n", MagnitudeExpr(in(0, t)), rows(40)(Seq(arr()))),
        (s"lsh_codes $n", LshCodesExpr(in(0, t), lsh), rows(40)(Seq(arr()))),
        (s"pack_bits $n", PackBitsExpr(in(0, t), 0.25), rows(40)(Seq(arr()))),
        (s"jl_project $n", JlProjectExpr(in(0, t), dim, 8, "s"), rows(40)(Seq(arr()))))
    }
    val cases = distances ++ perType ++ Seq(
      ("hamming_packed", HammingPackedExpr(in(0, LA), in(1, LA)),
        rows(40)(Seq(lArr(1 + rnd.nextInt(3)), lArr(1 + rnd.nextInt(3))))),
      ("argmin_dist", ArgMinDistExpr(in(0, FA), centers), rows(40)(Seq(fArr()))),
      ("adc_dist", AdcExpr(in(0, IA), tables), rows(40)(Seq(codes()))),
      ("nearest_centroid", NearestCentroidExpr(in(0, FA), micro), rows(40)(Seq(fArr()))),
      ("centroid_dist2", CentroidDist2Expr(in(0, FA), in(1, IntegerType),
        Array(2, 3, 5, 8, 13), micro), rows(40)(Seq(fArr(), Seq(2, 3, 5, 8, 13, 4)(rnd.nextInt(6))))),
      ("minhash_sig", MinHashSigExpr(in(0, LA), 16), rows(40)(Seq(lArr(rnd.nextInt(30))))),
      ("simhash", SimHashExpr(in(0, LA)), rows(40)(Seq(lArr(rnd.nextInt(30))))))
    // the 12 expression classes, each in every element-type variant
    assert(cases.map(_._2.getClass).distinct.size === 12)

    def bits(v: Any, t: DataType): Any = (v, t) match {
      case (null, _) => null
      case (d: Double, DoubleType) => java.lang.Double.doubleToLongBits(d)
      case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(bits(_, et))
      case (r: InternalRow, StructType(fs)) =>
        fs.indices.map(i => bits(r.get(i, fs(i).dataType), fs(i).dataType))
      case (x, _) => x
    }
    for ((name, expr, input) <- cases) {
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      input.foreach { row =>
        val interp = bits(expr.eval(row), expr.dataType)
        val gen = bits(generated(row).get(0, expr.dataType), expr.dataType)
        assert(interp === gen, s"$name diverged on $row")
      }
      assert(input.count(r => expr.eval(r) != null) === input.size - 1, name)
    }
  }

  test("round6: interpreted eval ≡ generated code ≡ Spark's round(x, 6), bit for bit") {
    import java.lang.Double.{doubleToRawLongBits => raw, longBitsToDouble}
    val rnd = new scala.util.Random(6)
    // exact decimal ties at the 7th place, the doubles either side of each,
    // random values over 16 decades, random bit patterns, and the edges
    val ties = Seq.fill(150000)("%d.%06d5".format(rnd.nextInt(1000000), rnd.nextInt(1000000)).toDouble)
    val near = ties.flatMap(t => Seq(t, math.nextUp(t), math.nextDown(t)))
    val spread = Seq.fill(300000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(16) - 8))
    val bits = Seq.fill(100000)(longBitsToDouble(rnd.nextLong()))
    val edges = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, 5e-7, 4.9999999999e-7, 999999.9999995,
      999999.9999994999, 1e6, 1e6 + 0.0000005, 123456789.1234565, 1e15 + 0.5, Double.MaxValue,
      java.lang.Double.MIN_NORMAL, 0.5e-6, 1.5e-6, 2.5e-6)
    val positive = near ++ spread ++ bits ++ edges
    val values = (positive ++ positive.map(-_)).toArray
    assert(values.length >= 1000000)

    val expr = Round6Expr(BoundReference(0, DoubleType, nullable = true))
    val sparkRound = org.apache.spark.sql.catalyst.expressions.Round(
      BoundReference(0, DoubleType, nullable = true),
      org.apache.spark.sql.catalyst.expressions.Literal(6))
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(values.toSeq.map(Tuple1(_)), 4))
      .toDF("x").select(col("x"), round(col("x"), 6), Round6Expr(col("x")))
    assert(df.queryExecution.executedPlan.toString.contains("round6("))
    val rows = df.collect()
    assert(rows.length === values.length)
    val diverged = rows.iterator.flatMap { r =>
      val row = InternalRow(r.getDouble(0))
      val want = raw(r.getDouble(1))
      Seq("generated (plan)" -> r.getDouble(2),
        "generated" -> generated(row).getDouble(0),
        "interpreted" -> expr.eval(row).asInstanceOf[Double],
        "Spark's interpreted round" -> sparkRound.eval(row).asInstanceOf[Double])
        .collect { case (path, got) if raw(got) != want => s"$path: ${r.getDouble(0)} -> $got" }
    }.take(10).toList
    assert(diverged.isEmpty, diverged.mkString("\n"))
    assert(expr.eval(InternalRow(null)) === null)
  }
}
