package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Complex-number column algebra.
  *
  * The reference sweeps complex-valued outputs (xyzpy stores complex
  * NumPy arrays; netcdf needs an `invalid_netcdf` escape hatch,
  * manage.py:96-99, tested tests/test_gen/test_combo_runner.py:246-262).
  * Spark has no complex type — the engine's representation is
  * `struct<re: double, im: double>` plus this expression algebra, all
  * built-ins (codegen-friendly), nothing opaque to Catalyst.
  */
object ComplexFns {

  /** Build a complex column from two real columns. */
  def complex(re: Column, im: Column): Column =
    struct(re.cast("double").as("re"), im.cast("double").as("im"))

  def complexLit(re: Double, im: Double): Column = complex(lit(re), lit(im))

  def re(z: Column): Column = z.getField("re")
  def im(z: Column): Column = z.getField("im")

  def add(a: Column, b: Column): Column =
    complex(re(a) + re(b), im(a) + im(b))

  def sub(a: Column, b: Column): Column =
    complex(re(a) - re(b), im(a) - im(b))

  def mul(a: Column, b: Column): Column =
    complex(re(a) * re(b) - im(a) * im(b),
            re(a) * im(b) + im(a) * re(b))

  def div(a: Column, b: Column): Column = {
    val d = re(b) * re(b) + im(b) * im(b)
    complex((re(a) * re(b) + im(a) * im(b)) / d,
            (im(a) * re(b) - re(a) * im(b)) / d)
  }

  def conj(z: Column): Column = complex(re(z), -im(z))

  def abs2(z: Column): Column = re(z) * re(z) + im(z) * im(z)

  def modulus(z: Column): Column = sqrt(abs2(z))

  def arg(z: Column): Column = atan2(im(z), re(z))

  /** e^(i·theta) — the phase factor sweeps are made of. */
  def expi(theta: Column): Column = complex(cos(theta), sin(theta))

  /** Sum a complex column in one aggregation (component-wise). */
  def sumComplex(z: Column): Column =
    complex(sum(re(z)), sum(im(z)))
}
