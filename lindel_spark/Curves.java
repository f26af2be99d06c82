package lindel;

import java.math.BigDecimal;
import java.math.BigInteger;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.types.DataType;

import scala.collection.Seq;

/**
 * The four lindel curve functions as Spark Java UDFs: one encode UDF and
 * one decode UDF, each fixed at construction to a curve, an element width,
 * an arity and an output form. lindel_spark.types resolves every bind-time
 * choice in Python; this file runs the per-row kernels inside the JVM, as
 * the reference runs its Rust kernels inside DuckDB
 * (src/lindel_extension.cpp:708,735,771).
 *
 * Bit layout: Morton is an MSB-first interleave in which element 0 gives
 * the most significant bit of each group; Hilbert is Skilling's
 * axes-to-transpose transform ("Programming the Hilbert curve", AIP Conf.
 * Proc. 707, 2004) followed by the same interleave. Keys are held as two
 * longs (hi, lo) because they reach 128 bits. lindel_spark/curve.py is the
 * NumPy reference the tests compare these kernels with bit for bit.
 */
public final class Curves {
  private Curves() {}

  static final String NULL_ELEM =
      "Lindel functions cannot handle arrays containing NULL values";

  /**
   * {@code functions.udf(f, returnType).withName(name).apply(arg)}: a
   * Column that holds the UDF itself rather than a registered name, so
   * it resolves in any session. Python cannot pick this typed overload
   * (py4j reaches the untyped {@code udf(Object, DataType)}); it is
   * reached by reflection, so compiling needs no jar beyond
   * spark-sql-api and scala-library.
   */
  public static Column column(UDF1<?, ?> f, String returnTypeJson, String name,
      Column arg) throws ReflectiveOperationException {
    Object udf = Class.forName("org.apache.spark.sql.functions")
        .getMethod("udf", UDF1.class, DataType.class)
        .invoke(null, f, DataType.fromJson(returnTypeJson));
    udf = udf.getClass().getMethod("withName", String.class).invoke(udf, name);
    return (Column) udf.getClass().getMethod("apply", Column[].class)
        .invoke(udf, (Object) new Column[] {arg});
  }

  /** elemBits * n rounded up to a power of two, at least 8. */
  static int totalBits(int elemBits, int n) {
    int t = 8;
    while (t < elemBits * n) t <<= 1;
    return t;
  }

  static long mask(int bits) {
    return bits == 64 ? -1L : (1L << bits) - 1;
  }

  static boolean isHilbert(String curve) {
    if (curve.equals("hilbert")) return true;
    if (curve.equals("morton")) return false;
    throw new IllegalArgumentException("LINDEL: unknown curve " + curve);
  }

  // Skilling's loops with the data-dependent branch on bit b of x[i]
  // replaced by masks (c is all ones when the bit is set): on random
  // points that branch mispredicts about half the time.

  static void axesToTranspose(long[] x, int bits) {
    int n = x.length;
    long x0 = x[0];
    for (int b = bits - 1; b >= 1; b--) {
      long p = (1L << b) - 1;
      x0 ^= p & -((x0 >>> b) & 1);
      for (int i = 1; i < n; i++) {
        long xi = x[i];
        long c = -((xi >>> b) & 1);
        long t = (x0 ^ xi) & p & ~c;
        x0 ^= t ^ (p & c);
        x[i] = xi ^ t;
      }
    }
    x[0] = x0;
    for (int i = 1; i < n; i++) x[i] ^= x[i - 1];
    // bit k of t is the parity of the bits of x[n-1] above k
    long t = x[n - 1] >>> 1;
    for (int s = 1; s < 64; s <<= 1) t ^= t >>> s;
    for (int i = 0; i < n; i++) x[i] ^= t;
  }

  static void transposeToAxes(long[] x, int bits) {
    int n = x.length;
    long t = x[n - 1] >>> 1;
    for (int i = n - 1; i > 0; i--) x[i] ^= x[i - 1];
    long x0 = x[0] ^ t;
    for (int b = 1; b < bits; b++) {
      long p = (1L << b) - 1;
      for (int i = n - 1; i >= 1; i--) {
        long xi = x[i];
        long c = -((xi >>> b) & 1);
        long u = (x0 ^ xi) & p & ~c;
        x0 ^= u ^ (p & c);
        x[i] = xi ^ u;
      }
      x0 ^= p & -((x0 >>> b) & 1);
    }
    x[0] = x0;
  }

  /** Big-endian bytes of the low {@code width} bytes of (hi, lo). */
  static byte[] toBytes(long hi, long lo, int width) {
    byte[] out = new byte[width];
    for (int k = 0; k < width; k++) {
      int shift = 8 * (width - 1 - k);
      long v = shift >= 64 ? hi >>> (shift - 64) : lo >>> shift;
      out[k] = (byte) v;
    }
    return out;
  }

  static BigDecimal unsignedDecimal(long v) {
    return new BigDecimal(new BigInteger(1, toBytes(0, v, 8)));
  }

  /** Encode: {@code array<elem>} of length n -> curve key. */
  public static final class Encode implements UDF1<Seq<Object>, Object> {
    private final boolean hilbert;
    private final int bits;
    private final int n;
    private final int widthBytes;
    private final char output;

    /** @param output long, binary (big-endian, unsigned order) or decimal */
    public Encode(String curve, int elemBits, int n, String output) {
      this.hilbert = isHilbert(curve);
      this.bits = elemBits;
      this.n = n;
      this.widthBytes = totalBits(elemBits, n) / 8;
      if (!output.equals("long") && !output.equals("binary")
          && !output.equals("decimal")) {
        throw new IllegalArgumentException("LINDEL: unknown output mode " + output);
      }
      this.output = output.charAt(0);
    }

    @Override
    public Object call(Seq<Object> arr) {
      if (arr == null) return null;
      if (arr.length() != n) {
        throw new IllegalArgumentException(
            "LINDEL: expected array of length " + n + ", got (" + arr.length() + ",)");
      }
      long m = mask(bits);
      long[] x = new long[n];
      for (int i = 0; i < n; i++) {
        Object v = arr.apply(i);
        if (v == null) throw new IllegalArgumentException(NULL_ELEM);
        long raw;
        // raw bit-casts: the non-raw forms canonicalise NaN payloads
        if (v instanceof Double) raw = Double.doubleToRawLongBits((Double) v);
        else if (v instanceof Float) raw = Float.floatToRawIntBits((Float) v);
        else raw = ((Number) v).longValue();
        x[i] = raw & m;
      }
      if (hilbert) axesToTranspose(x, bits);
      long hi = 0;
      long lo = 0;
      if (bits * n <= 64) {
        for (int j = bits - 1; j >= 0; j--) {
          for (int i = 0; i < n; i++) lo = (lo << 1) | ((x[i] >>> j) & 1);
        }
      } else {
        for (int j = bits - 1; j >= 0; j--) {
          for (int i = 0; i < n; i++) {
            hi = (hi << 1) | (lo >>> 63);
            lo = (lo << 1) | ((x[i] >>> j) & 1);
          }
        }
      }
      if (output == 'l') return lo;
      if (output == 'b') return toBytes(hi, lo, widthBytes);
      return new BigDecimal(new BigInteger(1, toBytes(hi, lo, 16)));
    }
  }

  /** Decode: curve key (bigint, or big-endian binary) -> array of n parts. */
  public static final class Decode implements UDF1<Object, Object> {
    private final boolean hilbert;
    private final int bits;
    private final int n;
    private final int inWidth;
    private final char output;

    /** @param output signed, unsigned or float: the parts' flavour */
    public Decode(String curve, int elemBits, int n, String output) {
      this.hilbert = isHilbert(curve);
      this.bits = elemBits;
      this.n = n;
      this.inWidth = totalBits(elemBits, n);
      if (!output.equals("signed") && !output.equals("unsigned")
          && !output.equals("float")) {
        throw new IllegalArgumentException("LINDEL: unknown decode output " + output);
      }
      this.output = output.charAt(0);
    }

    @Override
    public Object call(Object key) {
      if (key == null) return null;
      long hi = 0;
      long lo = 0;
      if (key instanceof byte[]) {
        byte[] b = (byte[]) key;
        if (b.length != inWidth / 8) {
          throw new IllegalArgumentException("LINDEL: decode expected " + inWidth / 8
              + "-byte binary, got " + b.length + " bytes");
        }
        for (byte c : b) {
          hi = (hi << 8) | (lo >>> 56);
          lo = (lo << 8) | (c & 0xFF);
        }
      } else {
        lo = (Long) key;
        // the reference's unsigned input types make out-of-range values
        // unrepresentable (src/lindel_extension.cpp:983-1001): raise
        // rather than truncate to plausible coordinates
        if (inWidth < 64 && (lo & ~mask(inWidth)) != 0) {
          throw new IllegalArgumentException("LINDEL: decode input exceeds u" + inWidth
              + " range; pass the correct input_width");
        }
      }
      if (bits == 128) return new Object[] {toBytes(hi, lo, 16)};
      long[] x = new long[n];
      for (int i = 0; i < n; i++) {
        long v = 0;
        for (int j = bits - 1; j >= 0; j--) {
          int p = j * n + (n - 1 - i);
          long bit = p < 64 ? lo >>> p : hi >>> (p - 64);
          v = (v << 1) | (bit & 1);
        }
        x[i] = v;
      }
      if (hilbert) transposeToAxes(x, bits);
      Object[] out = new Object[n];
      for (int i = 0; i < n; i++) out[i] = part(x[i]);
      return out;
    }

    private Object part(long v) {
      if (output == 'f') {
        return bits == 32 ? (Object) Float.intBitsToFloat((int) v)
                          : (Object) Double.longBitsToDouble(v);
      }
      if (output == 'u') {
        // next wider signed carrier; u64 rides decimal(20,0)
        switch (bits) {
          case 8: return (short) v;
          case 16: return (int) v;
          case 32: return v;
          default: return unsignedDecimal(v);
        }
      }
      switch (bits) {
        case 8: return (byte) v;
        case 16: return (short) v;
        case 32: return (int) v;
        default: return v;
      }
    }
  }
}
