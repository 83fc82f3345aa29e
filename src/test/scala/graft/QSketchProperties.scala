package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.functions.{QSketchBuffer, ZOrderKey}

/** Property checks of the quantile-sketch buffer and the Morton key
  * (SURVEY.md §5): the laws that make qsketch's map-side partial
  * aggregation lossless (merge = pointwise add, order-free) and its
  * estimates value-bounded, plus Z-order's bijectivity and ordering.
  */
object QSketchProperties extends Properties("QSketch/ZOrder") {

  // magnitudes across many octaves, both signs, zeros
  private val genVal: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e9, 1e9),
    Gen.choose(-1.0, 1.0),
    Gen.const(0.0),
    Gen.choose(1, 1000).map(_.toDouble))

  property("merge of split halves is byte-identical to single-pass") =
    Prop.forAll(Gen.listOf(genVal), Gen.choose(0, 100)) { (xs, cut) =>
      val whole = new QSketchBuffer(5)
      xs.foreach(whole.add)
      val a = new QSketchBuffer(5)
      val b = new QSketchBuffer(5)
      val (l, r) = xs.splitAt(cut % (xs.length + 1))
      l.foreach(a.add); r.foreach(b.add)
      a.mergeFrom(b)
      java.util.Arrays.equals(a.serialized, whole.serialized)
    }

  property("quantile estimate within 2^-(sub+1) relative of nearest-rank exact") =
    Prop.forAll(Gen.nonEmptyListOf(genVal), Gen.choose(0.0, 1.0)) { (xs, p) =>
      val buf = new QSketchBuffer(5)
      xs.foreach(buf.add)
      val est = QSketchBuffer.quantileOf(buf.serialized, p)
      val sorted = xs.sorted
      val exact = sorted(math.max(0, math.ceil(p * xs.size).toInt - 1))
      if (exact == 0.0) math.abs(est) < 1e-300
      else math.abs(est - exact) / math.abs(exact) <= 1.0 / 64 + 1e-9
    }

  property("serialize/deserialize round trip is stable") =
    Prop.forAll(Gen.listOf(genVal)) { xs =>
      val buf = new QSketchBuffer(5)
      xs.foreach(buf.add)
      val bytes = buf.serialized
      java.util.Arrays.equals(QSketchBuffer.deserialize(bytes).serialized, bytes)
    }

  private val genCoord: Gen[Long] = Gen.choose(0L, ZOrderKey.DimMax)

  /** Inverse of spread: collect every second bit. */
  private def unspread(v: Long): Long =
    (0 until ZOrderKey.DimBits).map(i => ((v >>> (2 * i)) & 1L) << i).reduce(_ | _)

  property("interleave is a bijection (deinterleave recovers both coordinates)") =
    Prop.forAll(genCoord, genCoord) { (a, b) =>
      val z = ZOrderKey.interleave(a, b)
      unspread(z >>> 1) == a && unspread(z) == b
    }

  property("z-order respects dominance: (a1<=a2, b1<=b2) => z1 <= z2") =
    Prop.forAll(genCoord, genCoord, genCoord, genCoord) { (a1, d1, b1, d2) =>
      // monotone along both axes: a point dominated component-wise
      // never sorts after its dominator's key... only true when one
      // coordinate is equal; general dominance fails for z-curves, so
      // test the axis-monotone special cases
      val a2 = math.min(ZOrderKey.DimMax, a1 | d1)
      ZOrderKey.interleave(a1, b1) <= ZOrderKey.interleave(a2, b1) &&
      ZOrderKey.interleave(b1, a1) <= ZOrderKey.interleave(b1, a2)
    }
}
