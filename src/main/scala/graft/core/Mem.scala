package graft.core

import org.apache.spark.unsafe.Platform

/** Unaligned word access via spark-unsafe `Platform` — big-endian for
  * the varint kernels and FSST packing, little-endian for bit unpacking.
  * Callers must prove bounds (off + 8 <= array length) themselves; that
  * is the point: the byteArrayView VarHandle's per-access bounds checks
  * measured 2x on the varint decode hot loop. The native-order test
  * folds to a constant.
  */
object Mem {
  private val NativeLE: Boolean =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  @inline def getLongBE(src: Array[Byte], off: Int): Long = {
    val w = Platform.getLong(src, Platform.BYTE_ARRAY_OFFSET + off)
    if (NativeLE) java.lang.Long.reverseBytes(w) else w
  }

  @inline def getLongLE(src: Array[Byte], off: Int): Long = {
    val w = Platform.getLong(src, Platform.BYTE_ARRAY_OFFSET + off)
    if (NativeLE) w else java.lang.Long.reverseBytes(w)
  }

  @inline def putLongBE(dst: Array[Byte], off: Int, v: Long): Unit =
    Platform.putLong(dst, Platform.BYTE_ARRAY_OFFSET + off,
      if (NativeLE) java.lang.Long.reverseBytes(v) else v)
}
