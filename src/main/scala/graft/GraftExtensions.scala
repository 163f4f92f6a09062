package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDotLong, CharNgrams, Md5Min, MinHashBands, MinHashMd5, NgramShingles, PqAdcTable, PqEncode, PqKernel, QuantizeLong}

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * expressions as SQL functions at session build time, so a cluster
  * deployment enables them with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (no code changes in
  * user ETLs). The same registration is available programmatically via
  * `MinHashMd5.register(spark)` for an existing session. It also
  * injects [[graft.backend.ConstantSelectToLocalRelation]], which
  * `SqlProcessor` adds to an existing session itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.backend.ConstantSelectToLocalRelation)
    ext.injectFunction((
      FunctionIdentifier("minhash_md5"),
      new ExpressionInfo(classOf[MinHashMd5].getName, "minhash_md5"),
      (exprs: Seq[Expression]) => MinHashMd5(
        exprs.head,
        exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Int])
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("array_dot_long"),
      new ExpressionInfo(classOf[ArrayDotLong].getName, "array_dot_long"),
      (exprs: Seq[Expression]) => ArrayDotLong(exprs(0), exprs(1))
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("quantize_long"),
      new ExpressionInfo(classOf[QuantizeLong].getName, "quantize_long"),
      (exprs: Seq[Expression]) => QuantizeLong(
        exprs.head,
        exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Number].longValue())
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (exprs: Seq[Expression]) => MinHashBands(
        exprs.head,
        exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Number].intValue(),
        exprs(2).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Number].intValue())
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
      (exprs: Seq[Expression]) => CharNgrams(
        exprs.head,
        exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Number].intValue())
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (exprs: Seq[Expression]) => PqEncode(
        exprs(0), exprs(1), PqKernel.litInt(exprs(2)))
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("pq_adc_table"),
      new ExpressionInfo(classOf[PqAdcTable].getName, "pq_adc_table"),
      (exprs: Seq[Expression]) => PqAdcTable(
        exprs(0), exprs(1), PqKernel.litInt(exprs(2)))
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("md5_min"),
      new ExpressionInfo(classOf[Md5Min].getName, "md5_min"),
      (exprs: Seq[Expression]) => Md5Min(exprs.head)
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
    ext.injectFunction((
      FunctionIdentifier("ngram_shingles"),
      new ExpressionInfo(classOf[NgramShingles].getName, "ngram_shingles"),
      (exprs: Seq[Expression]) => NgramShingles(
        exprs.head,
        exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Number].intValue())
    ): (FunctionIdentifier, ExpressionInfo,
        FunctionRegistry.FunctionBuilder))
  }
}
