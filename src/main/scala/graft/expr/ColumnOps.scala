package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session-independent Column wrappers for graft's catalyst expressions
  * (no function-registry dependency, so library operators can use them
  * on any session). */
object ColumnOps {
  def wrap(e: Expression): Column = JColumns.column(e)
  def exprOf(c: Column): Expression = JColumns.expression(c)

  def dotProduct(a: Column, b: Column): Column =
    wrap(DotProduct(exprOf(a), exprOf(b)))
  def nextBirthday(dob: Column, today: Column): Column =
    wrap(NextBirthday(exprOf(dob), exprOf(today)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    wrap(SortedIntersectCount(exprOf(a), exprOf(b)))
  def equalCount(a: Column, b: Column): Column =
    wrap(EqualCount(exprOf(a), exprOf(b)))
  def dequantizeUnit(codes: Column, mins: Column, scales: Column): Column =
    wrap(DequantizeUnit(exprOf(codes), exprOf(mins), exprOf(scales)))
  def sha60(c: Column): Column =
    wrap(Sha60(exprOf(c)))
  def shingleSha60(c: Column, n: Int): Column =
    wrap(ShingleSha60(exprOf(c), n))
  def shingleMinHash(c: Column, n: Int, perms: Int, mix: Long): Column =
    wrap(ShingleMinHash(exprOf(c), n, perms, mix))
  def wordGramSha60(c: Column, n: Int): Column =
    wrap(WordGramSha60(exprOf(c), n))
  def polyKgramHash(c: Column): Column =
    wrap(PolyKgramHash(exprOf(c)))
  def winnowSelect(c: Column): Column =
    wrap(WinnowSelect(exprOf(c)))

  /** Distributed Bloom-filter build over a LongType column (Spark's own
    * `BloomFilterAggregate`, the runtime-filter machinery, driven
    * explicitly): partial filters are built map-side and OR-merged in
    * the reduce — the corpus never moves, only `numBits/8`-byte filter
    * buffers do. Result is the serialized filter (BinaryType). */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    wrap(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      exprOf(c),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)
    ).toAggregateExpression())

  /** Membership probe against a serialized Bloom filter. Spark requires
    * the filter side to be foldable — pass `lit(bytes)` of a collected
    * filter (a model parameter, like IVF centroids). Codegen'd; false
    * positives possible, false negatives never. */
  def bloomMightContain(bloomBytes: Column, value: Column): Column =
    wrap(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      exprOf(bloomBytes), exprOf(value)))
}
