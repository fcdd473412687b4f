package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.util.sketch.BloomFilter

/** Per-group Bloom filter as a typed Aggregator: each group (in the
  * manifest use, each FILE) collapses its key column into a fixed-size
  * bit array with no false negatives. Partial buffers merge bitwise-OR
  * (associative, partition-order-independent), so the agg runs as
  * ObjectHashAggregate with map-side partials — one scan, no shuffle of
  * the keys themselves.
  *
  * Keys are inserted as longs (`putLong`), matching how
  * `DataFrame.stat.bloomFilter` and [[graft.expressions.BloomMightContain]]
  * hash integral keys, so sketches built here are probe-compatible with
  * the rest of the Bloom machinery. Spark's `BloomFilterImpl` seeds its
  * hashes deterministically — identical inputs give byte-identical
  * sketches, rerun-stable like every other gate artifact.
  */
object BloomAgg {

  /** Aggregator instance; use via `functions.udaf(BloomAgg.agg(n, fpp))`.
    * `expectedItems` sizes the bit array PER GROUP — for a file manifest,
    * the expected rows per file (maxPartitionBytes / row width); fpp is
    * the per-probe false-positive budget at that fill. Oversizing only
    * costs sketch bytes, undersizing only raises fpp — never
    * correctness. */
  def agg(expectedItems: Long, fpp: Double): Aggregator[Long, BloomFilter, Array[Byte]] =
    new Aggregator[Long, BloomFilter, Array[Byte]] {
      override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
      override def reduce(b: BloomFilter, a: Long): BloomFilter = {
        b.putLong(a); b
      }
      override def merge(x: BloomFilter, y: BloomFilter): BloomFilter =
        x.mergeInPlace(y)
      override def finish(b: BloomFilter): Array[Byte] = {
        val bos = new ByteArrayOutputStream()
        b.writeTo(bos)
        bos.toByteArray
      }
      override def bufferEncoder: Encoder[BloomFilter] =
        Encoders.javaSerialization[BloomFilter]
      override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }

  /** Deserialize a sketch column value back to a probeable filter. */
  def readFrom(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  /** Mutable partial-agg state for [[adaptive]]: exact distinct keys
    * until they exceed the cap, then a fixed-size Bloom. Exactly one of
    * `set`/`bloom` is live (bloom != null wins). Java-serializable for
    * the javaSerialization buffer encoder, like the fixed agg's
    * BloomFilter buffer. */
  final class AdaptiveBuf(
      var set: java.util.HashSet[java.lang.Long],
      var bloom: BloomFilter) extends Serializable

  /** [[agg]] with the sketch sized to the group's ACTUAL distinct count:
    * the fixed agg allocates `expectedItems` worth of bits per group up
    * front (~9.6 KB at 8k/1%), which is the right ceiling for full-size
    * data files but oversized 10–100× for the small-file tail — and in a
    * file manifest the sketch bytes are the bulk of every probe's scan,
    * so oversizing is priced per lookup, not once (SCALE.md
    * §"Round-18: distributed manifest prune": ~10 KB × files of
    * irreducible sketch read per probe).
    *
    * Mechanics: buffer EXACT distinct keys up to `maxItems`; a group
    * that overflows switches to a `maxItems`-expected Bloom (the fixed
    * agg's behavior — undersizing only raises fpp, never correctness)
    * and streams on. At finish a still-exact group serializes a filter
    * sized to its true distinct count at the same fpp. The output is a
    * plain serialized `BloomFilter` either way — [[readFrom]] and every
    * existing probe path read old fixed-size and new right-sized
    * sketches interchangeably, and stores mix them freely across
    * versions. Overflowed partials merge via `mergeInPlace` (all blooms
    * here are created at the same `maxItems`/`fpp`, so they are always
    * bit-compatible); exact partials pour into whichever side already
    * overflowed. */
  def adaptive(maxItems: Long, fpp: Double): Aggregator[Long, AdaptiveBuf, Array[Byte]] =
    new Aggregator[Long, AdaptiveBuf, Array[Byte]] {
      private val cap = math.max(1L, maxItems).min(Int.MaxValue.toLong).toInt
      private def spill(b: AdaptiveBuf): AdaptiveBuf = {
        if (b.bloom == null) {
          b.bloom = BloomFilter.create(cap.toLong, fpp)
          b.set.forEach(k => b.bloom.putLong(k))
          b.set = null
        }
        b
      }
      override def zero: AdaptiveBuf =
        new AdaptiveBuf(new java.util.HashSet[java.lang.Long](), null)
      override def reduce(b: AdaptiveBuf, a: Long): AdaptiveBuf = {
        if (b.bloom != null) b.bloom.putLong(a)
        else {
          b.set.add(a)
          if (b.set.size > cap) spill(b)
        }
        b
      }
      override def merge(x: AdaptiveBuf, y: AdaptiveBuf): AdaptiveBuf =
        if (x.bloom == null && y.bloom == null) {
          x.set.addAll(y.set)
          if (x.set.size > cap) spill(x)
          x
        } else {
          val (dst, src) = if (x.bloom != null) (x, y) else (y, x)
          if (src.bloom != null) dst.bloom.mergeInPlace(src.bloom)
          else src.set.forEach(k => dst.bloom.putLong(k))
          dst
        }
      override def finish(b: AdaptiveBuf): Array[Byte] = {
        val f =
          if (b.bloom != null) b.bloom
          else {
            val sized =
              BloomFilter.create(math.max(1L, b.set.size.toLong), fpp)
            b.set.forEach(k => sized.putLong(k))
            sized
          }
        val bos = new ByteArrayOutputStream()
        f.writeTo(bos)
        bos.toByteArray
      }
      override def bufferEncoder: Encoder[AdaptiveBuf] =
        Encoders.javaSerialization[AdaptiveBuf]
      override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }
}
