package graft.functions

import graft.operators.SpeakingSegments
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StructType

/** `explode_segments(series, threshold, min_frames)` — a Catalyst
  * `Generator` (UDTF, the §2.9 "1→N row expander" tier): takes one
  * frame-ordered ARRAY<STRUCT<frame INT, score DOUBLE>> per track and
  * emits one row per speaking segment through `SpeakingSegments.scan`
  * (extractSpeakingSegments.py:44–61 + the >= gate at :98–99; the
  * rules are on the scan). `SpeakingSegments.extract` collects each
  * key's series and runs this generator over it.
  */
case class ExplodeSegments(series: Expression, threshold: Expression,
    minFrames: Expression) extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(series, threshold, minFrames)

  override lazy val elementSchema: StructType = Encoders.product[SpeakingSegments.Segment].schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = series.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Nil
    val n = arr.numElements()
    val frames = Array.tabulate(n)(i => arr.getStruct(i, 2).getInt(0))
    val scores = Array.tabulate(n)(i => arr.getStruct(i, 2).getDouble(1))
    SpeakingSegments.scan(frames, scores, threshold.eval(input).asInstanceOf[Double],
        minFrames.eval(input).asInstanceOf[Int])
      .map(g => InternalRow(g.seg_id, g.start_frame, g.end_frame, g.n_frames))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExplodeSegments =
    copy(series = newChildren(0), threshold = newChildren(1), minFrames = newChildren(2))
}
