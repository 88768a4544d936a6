package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.DatasetBridge.{column, expression}

/** Column builders for Spark's OWN Bloom-filter expressions —
  * `BloomFilterAggregate` (the distributed build: one partial Bloom per
  * partition, OR-merged at the reduce, exactly how Spark's runtime
  * row-group filters are built) and `BloomFilterMightContain` (the
  * codegen'd probe). Spark uses the pair internally for
  * `InjectRuntimeFilter` but does not expose either as a public function;
  * wrapping them makes the semi-join-pushdown pattern available as
  * [[bloomAgg]] / [[mightContain]] with zero new expression code — and
  * keeps the probe inside WholeStageCodegen.
  */
object BloomFunctions {

  /** Optimal bit count for an expected item count at a false-positive
    * rate: ⌈−n·ln p / (ln 2)²⌉ (classic Bloom sizing).
    */
  def optimalNumBits(nItems: Long, fpp: Double): Long =
    math.max(64L,
      math.ceil(-(nItems.toDouble * math.log(fpp)) /
        (math.log(2) * math.log(2))).toLong)

  /** Aggregate: the serialized Bloom filter (binary) over bigint `h`. */
  def bloomAgg(h: Column, nItems: Long, nBits: Long): Column =
    column(new BloomFilterAggregate(expression(h), Literal(nItems), Literal(nBits))
      .toAggregateExpression())

  /** Probe: may bigint `h` be in the serialized filter `bf`? */
  def mightContain(bf: Column, h: Column): Column =
    column(BloomFilterMightContain(expression(bf), expression(h)))
}
