package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.VectorExpressions
import graft.functions.TextFunctions

/** The LSH banding and pair-expansion kernels against their
  * column-math specs: the `transform`/`slice`/`xxhash64` banding and
  * the `flatten(transform(...))` pair expansion the Dedup operators
  * ran before the native expressions. Equivalence is checked on the
  * printed rows (so -0.0, NaN and null survive the comparison) and on
  * the result schema, nullability included. */
object LshKernelsSpec {
  /** LSH band keys — the column-math spec of
    * [[VectorExpressions.MinhashBands]] */
  def minhashBandsHof(signature: Column, bands: Int,
                      rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(signature, b * lit(rowsPerBand) + 1,
          lit(rowsPerBand))).as("bucket")))

  /** in-row pair expansion — the column-math spec of
    * [[VectorExpressions.IdPairs]] over an `ids` column */
  def idPairsHof: Column = expr(
    """flatten(transform(sequence(1, size(ids) - 1), i ->
      |  transform(slice(ids, i + 1, size(ids) - i), y ->
      |    struct(least(element_at(ids, i), y) AS a,
      |           greatest(element_at(ids, i), y) AS b))))""".stripMargin)
}

class LshKernelsSpec extends SparkTestBase {
  import spark.implicits._
  import LshKernelsSpec._

  /** native == spec, the native side both generated and interpreted */
  private def same(df: DataFrame, native: Column, spec: Column): Unit = {
    val s = df.select(spec.as("k"))
    val want = s.collect().map(_.toString).toSeq
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val conf = spark.conf
      val (ws, fm) = (conf.get("spark.sql.codegen.wholeStage"),
        conf.get("spark.sql.codegen.factoryMode"))
      conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val n = df.select(native.as("k"))
        assert(n.schema == s.schema, s"${n.schema} vs ${s.schema}")
        val got = n.collect().map(_.toString).toSeq
        assert(got == want, s"$mode: ${got.zip(want).find(p => p._1 != p._2)}")
      } finally {
        conf.set("spark.sql.codegen.wholeStage", ws)
        conf.set("spark.sql.codegen.factoryMode", fm)
      }
    }
  }

  test("minhashBands matches its spec: index signatures and odd shapes") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    val texts = (0 until 200).map(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(30))(vocab(rnd.nextInt(40))).mkString(" ")))
      .toDF("id", "text")
    val sh = texts.select(TextFunctions.wordShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    // the persisted index's format-2 buckets: every (numHashes, bands)
    // the operators and catalog use, through the real signature
    for ((k, bands) <- Seq((64, 16), (64, 32), (128, 32), (64, 5), (16, 32))) {
      val sig = TextFunctions.minhashSignature($"sh", k, 42L)
      same(sh, TextFunctions.minhashBands(sig, bands, k / bands),
        minhashBandsHof(sig, bands, k / bands))
    }
    // random signatures: null elements, short and null arrays, bands
    // past the end
    val sigs = (0 until 300).map { _ =>
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextLong()))
    }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(
        sigs.map(Row(_)), 3),
      StructType(Seq(StructField("sig", ArrayType(LongType, containsNull = true)))))
    for ((bands, rows) <- Seq((1, 1), (3, 2), (4, 3), (5, 0), (2, 7))) {
      same(raw, VectorExpressions.minhashBands($"sig", bands, rows),
        minhashBandsHof($"sig", bands, rows))
    }
  }

  test("minhashBands runs inside whole-stage codegen") {
    val sig = TextFunctions.minhashSignature(
      TextFunctions.wordShingles($"text", 3), 64, 42L)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try Seq((1L, "a b c d e"), (2L, "b c d e f")).toDF("id", "text")
      .repartition(2)
      .select($"id", explode(TextFunctions.minhashBands(sig, 16, 4)))
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
    val fused = plan.collect { case w: WholeStageCodegenExec => w.child }
      .exists(_.find(_.isInstanceOf[GenerateExec]).isDefined)
    assert(fused, plan.toString)
  }

  private def idFrame[T](rows: Seq[Seq[T]], et: DataType,
                         containsNull: Boolean): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r)), 3),
      StructType(Seq(StructField("ids", ArrayType(et, containsNull)))))

  test("idPairs matches its spec for long, int and string ids, sizes 2 to the cap") {
    val rnd = new scala.util.Random(5)
    def sizes = (2 to 40) ++ Seq.fill(20)(2 + rnd.nextInt(60))
    // long ids, as collect_list hands them over: no nulls, duplicates
    // possible (a duplicated id expands to a self pair, as before)
    val longs = sizes.map(n => Seq.fill(n)(rnd.nextInt(50).toLong - 10))
    same(idFrame(longs, LongType, containsNull = false),
      VectorExpressions.idPairs($"ids"), idPairsHof)
    val ints = sizes.map(n => Seq.fill(n)(rnd.nextInt()))
    same(idFrame(ints, IntegerType, containsNull = false),
      VectorExpressions.idPairs($"ids"), idPairsHof)
    val strs = sizes.map(n => Seq.fill(n)(
      if (rnd.nextInt(12) == 0) null else s"d${rnd.nextInt(30)}"))
    same(idFrame(strs, StringType, containsNull = true),
      VectorExpressions.idPairs($"ids"), idPairsHof)
    // double ids: the ordering's NaN and signed-zero rules
    val dbls = sizes.map(n => Seq.fill(n)(rnd.nextInt(6) match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 => 0.0
      case _ => rnd.nextInt(9).toDouble
    }))
    same(idFrame(dbls, DoubleType, containsNull = false),
      VectorExpressions.idPairs($"ids"), idPairsHof)
    // one bucket at the default MinHash cap
    same(idFrame(Seq((0 until 1000).map(i => (i * 7919L) % 1000)), LongType,
        containsNull = false),
      VectorExpressions.idPairs($"ids"), idPairsHof)
    // null arrays stay null (explode then yields nothing)
    same(idFrame(Seq(null, Seq(1L, 2L)), LongType, containsNull = false),
      VectorExpressions.idPairs($"ids"), idPairsHof)
  }

  test("idPairs: fewer than two ids yield no pairs") {
    val got = idFrame(Seq(Seq.empty[Long], Seq(3L)), LongType,
        containsNull = false)
      .select(size(VectorExpressions.idPairs($"ids"))).as[Int].collect()
    assert(got.toSeq == Seq(0, 0))
  }
}
