package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  BloomFilterMightContain, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns, in double precision.
  *
  * Why a custom Catalyst expression: the composable form
  * (`aggregate(zip_with(a, b, (x, y) -> x*y), 0D, (acc, v) -> acc + v)`)
  * is correct but runs interpreted (higher-order functions don't codegen)
  * at ~1.5 ms per 64-dim pair — a 125k-pair similarity join took 200 s.
  * This expression generates a tight primitive loop inside whole-stage
  * codegen (~µs per pair; >100× faster), which at 100 TB is the difference
  * between an overnight ANN sweep and an hour.
  *
  * Semantics: sequential left-to-right accumulation of
  * `(double)a[i] * (double)b[i]` — bit-identical to both the interpreted
  * form and DuckDB's `list_sum(list_transform(list_zip(...)))` left fold,
  * so oracle hash-compares stay exact. Null arrays propagate null; lengths
  * are clamped to the shorter side. Both inputs must be `array<float>`
  * (elements are read with `getFloat`): any other type fails analysis
  * with DATATYPE_MISMATCH instead of a ClassCastException at runtime.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** THE registry of graft's native SQL functions, and its session-scoped
  * registration door. Both doors iterate [[registry]]:
  * [[graft.GraftExtensions]] injects every entry into sessions built
  * with the extensions, and [[ensureRegistered]] registers every entry
  * into sessions we don't construct (hooked into [[graft.Tables]], so
  * driver-owned sessions get it for free) — a name reachable through
  * one door is reachable through the other. */
object GraftFunctions {
  /** (SQL name, implementing class, builder) of every native function. */
  val registry: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], e => VecDot(e(0), e(1))),
    ("minhash_sig", classOf[MinHashSig],
      e => MinHashSig(e(0), e(1).eval().asInstanceOf[Int])),
    ("byte_entropy", classOf[ByteEntropy], e => ByteEntropy(e(0))),
    ("pq_adc", classOf[PqAdc], e => PqAdc(e(0), e(1))),
    // Spark's own runtime-filter probe expression, surfaced for explicit
    // cross-job bloom pruning (ops.Prune): args = (serialized sketch
    // literal, xxhash64(key))
    ("bloom_might", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))),
    ("shingle_minhash", classOf[ShingleMinHash],
      e => ShingleMinHash(e(0), e(1).eval().asInstanceOf[Int],
        e(2).eval().asInstanceOf[Int])),
    ("shingle_hashes", classOf[ShingleHashes],
      e => ShingleHashes(e(0), e(1).eval().asInstanceOf[Int],
        e(2).eval().asInstanceOf[Boolean])),
    ("regex_count", classOf[RegexCount], e => RegexCount(e(0), e(1))),
    ("lsh_band_keys", classOf[LshBandKeys],
      e => LshBandKeys(e(0), e(1).eval().asInstanceOf[Int],
        e(2).eval().asInstanceOf[Int])),
    // typed Aggregator → SQL surface: SELECT vec_centroid(embedding) …
    ("vec_centroid", VecCentroid.getClass,
      e => org.apache.spark.sql.GraftPlanBridge.udafExpression(
        VecCentroidUdaf, e)))

  private lazy val VecCentroidUdaf =
    org.apache.spark.sql.functions.udaf(VecCentroid).withName("vec_centroid")

  /** Sessions already registered — re-registering on every `Tables.table`
    * call emitted a "SimpleFunctionRegistry … replaced" WARN per scan,
    * burying Bench's JSON contract line in log noise. Weak keys: a closed
    * session must not be pinned in memory by this guard. */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register every [[registry]] entry into `spark`. Idempotent — call
    * before building plans that use `call_function("vec_dot", …)`. */
  def ensureRegistered(spark: SparkSession): Unit = {
    if (registered.containsKey(spark)) return
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
    registered.put(spark, java.lang.Boolean.TRUE)
  }
}
