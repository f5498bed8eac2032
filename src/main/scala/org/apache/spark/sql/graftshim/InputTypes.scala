package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.sql.types.{AbstractDataType, DoubleType, LongType, StringType}

/** `AbstractDataType` is `private[sql]`, so an expression outside the
  * Spark package tree cannot override `inputTypes` directly; this
  * bridge trait (like [[ColumnBridge]], access-only — no Spark code)
  * pins the (long, double[, long payload]) signature used by graft's
  * top-k aggregate so the analyzer inserts implicit casts and rejects
  * non-castable inputs at analysis time.
  */
trait TopKInputTypes extends ImplicitCastInputTypes {
  protected def hasPayload: Boolean
  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, DoubleType) ++ (if (hasPayload) Seq(LongType) else Nil)
}

/** Single string input (the heavy-hitter item column). */
trait StringInputTypes extends ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
}

/** Single long input (a pre-hashed sketch key column). */
trait LongInputTypes extends ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
}

/** Single double input (a numeric sketch value column). */
trait DoubleInputTypes extends ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
}
