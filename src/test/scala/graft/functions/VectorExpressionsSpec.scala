package graft.functions

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(sf("embeddings"))

  /** Higher-order-function formulations of the native dot / cosine — the
    * same sequential fold, written with Spark's HOFs: the reference the
    * native expressions must match bit for bit.
    */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / sqrt(dotHof(a, a) * dotHof(b, b))

  test("native vecDot/vecCosine are bit-identical to the HOF reference fold") {
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter($"a.vec_id" < 20 && $"b.vec_id".between(20, 60))
      .select(
        $"a.embedding".cast("array<double>").as("x"),
        $"b.embedding".cast("array<double>").as("y"))
    val cmp = pairs.select(
      Similarity.dot($"x", $"y").as("d_native"),
      dotHof($"x", $"y").as("d_hof"),
      Similarity.cosine($"x", $"y").as("c_native"),
      cosineHof($"x", $"y").as("c_hof"))
    val rows = cmp.as[(Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (dn, dh, cn, ch) =>
      assert(java.lang.Double.doubleToLongBits(dn) ==
        java.lang.Double.doubleToLongBits(dh), s"dot mismatch $dn vs $dh")
      assert(java.lang.Double.doubleToLongBits(cn) ==
        java.lang.Double.doubleToLongBits(ch), s"cosine mismatch $cn vs $ch")
    }
  }

  test("implicit cast accepts float arrays directly") {
    val r = emb.limit(5)
      .select(Similarity.cosine($"embedding", $"embedding").as("c"))
      .as[Double].collect()
    assert(r.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("vec_dot / vec_cosine are callable from SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
      "vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("null array yields null, not an exception") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
    val r = df.select(Similarity.dot($"a", $"b")).collect()
    assert(r.head.isNullAt(0))
  }

  test("vecSub is bit-identical to the zip_with fold") {
    import org.apache.spark.sql.graft.VectorFunctions
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter($"a.vec_id" < 10 && $"b.vec_id".between(10, 30))
      .select($"a.embedding".cast("array<double>").as("x"),
        $"b.embedding".cast("array<double>").as("y"))
    val cmp = pairs.select(
      VectorFunctions.vecSub($"x", $"y").as("n"),
      zip_with($"x", $"y", (p, q) => p - q).as("h"))
      .as[(Seq[Double], Seq[Double])].collect()
    assert(cmp.nonEmpty)
    cmp.foreach { case (n, h) =>
      assert(n.length == h.length)
      n.zip(h).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }

  test("vecArgmaxCos matches greatest+first-match; vecArgminL2 matches least") {
    import org.apache.spark.sql.graft.VectorFunctions
    val cents: Seq[Seq[Double]] = emb.filter($"vec_id" < 8)
      .orderBy("vec_id")
      .select($"embedding".cast("array<double>")).as[Seq[Double]].collect().toSeq
    val vv = $"embedding".cast("array<double>")
    // reference: the CASE-chain formulation over the same score exprs
    val sims = cents.map(cv => Similarity.cosine(vv, typedLit(cv)))
    val best = greatest(sims: _*)
    val ref = cents.indices.zip(sims).foldRight(lit(null).cast("int")) {
      case ((i, s), els) => when(s === best, lit(i)).otherwise(els)
    }
    val cmp = emb.select(
      VectorFunctions.vecArgmaxCos(vv, typedLit(cents)).as("n"),
      ref.as("r")).as[(Int, Int)].collect()
    assert(cmp.nonEmpty && cmp.forall { case (n, r) => n == r })
    // argmin-L2 against the least+CASE formulation
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Similarity.dot(a, a) - lit(2.0) * Similarity.dot(a, b) +
        Similarity.dot(b, b)
    val ds = cents.map(cv => d2(vv, typedLit(cv)))
    val least8 = least(ds: _*)
    val refMin = cents.indices.zip(ds).foldRight(lit(null).cast("int")) {
      case ((i, d), els) => when(d === least8, lit(i)).otherwise(els)
    }
    val cmp2 = emb.select(
      VectorFunctions.vecArgminL2(vv, typedLit(cents)).as("n"),
      refMin.as("r")).as[(Int, Int)].collect()
    assert(cmp2.nonEmpty && cmp2.forall { case (n, r) => n == r })
  }

  test("vecArgmaxCos: ties go to the lowest index; zero vector gives null") {
    import org.apache.spark.sql.graft.VectorFunctions
    val cents = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = Seq((1L, Seq(2.0, 0.0)), (2L, Seq(0.0, 0.0)))
      .toDF("id", "v")
    val r = df.select($"id",
        VectorFunctions.vecArgmaxCos($"v", typedLit(cents)).as("c"))
      .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1 else x.getInt(1)))
      .toMap
    assert(r(1L) == 0) // duplicate best centroid: first wins
    assert(r(2L) == -1) // all-NaN cosines: null, as the CASE chain gave
  }
}
