package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Complex-number arithmetic over `struct(re, im)` columns.
  *
  * Spark has no native complex type; the reference faces the same problem
  * in Arrow and represents complex64/128 as a struct-of-two-floats
  * extension type (ref: daskms/experimental/arrow/extension_types.py:178-207,
  * daskms/experimental/arrow/arrow_schema.py:162-166). We adopt the same
  * layout: `StructType(re: Float|Double, im: Float|Double)`.
  *
  * All helpers are plain `Column` algebra — they stay inside whole-stage
  * codegen (no UDFs), which is what makes them viable in a 100 TB hot path.
  */
object ComplexFns {

  /** Build a complex column from two real columns. */
  def c_make(re: Column, im: Column): Column =
    struct(re.cast("double").as("re"), im.cast("double").as("im"))

  def c_re(c: Column): Column = c.getField("re")
  def c_im(c: Column): Column = c.getField("im")

  def c_add(a: Column, b: Column): Column =
    c_make(c_re(a) + c_re(b), c_im(a) + c_im(b))

  def c_sub(a: Column, b: Column): Column =
    c_make(c_re(a) - c_re(b), c_im(a) - c_im(b))

  /** (a+bi)(c+di) = (ac-bd) + (ad+bc)i */
  def c_mul(a: Column, b: Column): Column =
    c_make(
      c_re(a) * c_re(b) - c_im(a) * c_im(b),
      c_re(a) * c_im(b) + c_im(a) * c_re(b))

  /** (a+bi)/(c+di) = ((ac+bd) + (bc-ad)i) / (c²+d²) */
  def c_div(a: Column, b: Column): Column = {
    val den = c_re(b) * c_re(b) + c_im(b) * c_im(b)
    c_make(
      (c_re(a) * c_re(b) + c_im(a) * c_im(b)) / den,
      (c_im(a) * c_re(b) - c_re(a) * c_im(b)) / den)
  }

  def c_neg(a: Column): Column = c_make(-c_re(a), -c_im(a))

  def c_conj(a: Column): Column = c_make(c_re(a), -c_im(a))

  /** |a+bi| = sqrt(a²+b²) — returns a real (double) column. */
  def c_abs(a: Column): Column =
    sqrt(c_re(a) * c_re(a) + c_im(a) * c_im(a))
}
