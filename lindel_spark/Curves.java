package lindel;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.util.List;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;

import scala.collection.Seq;

/**
 * The four lindel curve functions as Spark Java UDFs: one encode UDF and
 * one decode UDF, each fixed at construction to a curve, an element width,
 * an arity and an output form. lindel_spark.types resolves every bind-time
 * choice in Python; this file builds the Columns and runs the per-row
 * kernels inside the JVM, as the reference runs its Rust kernels inside
 * DuckDB (src/lindel_extension.cpp:708,735,771).
 *
 * Bit layout: Morton is an MSB-first interleave in which element 0 gives
 * the most significant bit of each group; Hilbert is Skilling's
 * axes-to-transpose transform ("Programming the Hilbert curve", AIP Conf.
 * Proc. 707, 2004) followed by the same interleave. Keys are held as two
 * longs (hi, lo) because they reach 128 bits. lindel_spark/curve.py is the
 * NumPy reference the tests compare these kernels with bit for bit.
 *
 * Three kernels do the work: a word-parallel (shift-and-mask) interleave
 * for any arity, Skilling's loop for Hilbert at every arity but 2, and at
 * arity 2 a byte-at-a-time table walk that maps the Morton key to the
 * Hilbert key (see {@link #H2_ENCODE}).
 */
public final class Curves {
  /**
   * py4j holds one instance per gateway and calls the static factories
   * through it: a call on an object skips the member lookup round trip
   * that every call through a py4j {@code JavaClass} pays.
   */
  public Curves() {}

  static final String NULL_ELEM =
      "Lindel functions cannot handle arrays containing NULL values";

  // ---------------------------------------------------------------------
  // Column factories: one py4j call per curve Column. A Column carries
  // the UDF itself, not a registered name, so it resolves in whichever
  // session runs it (a foreachBatch batch has a session of its own).
  // ---------------------------------------------------------------------

  /** One UDF per kernel configuration in this JVM; UDFs are immutable. */
  private static final ConcurrentHashMap<String, UserDefinedFunction> UDFS =
      new ConcurrentHashMap<>();

  /**
   * The cached UDF for one configuration, named {@code <curve>_<direction>}
   * in plans. {@code functions.udf(UDF1, DataType)} is reached by
   * reflection: javac cannot resolve the {@code udf} overloads without
   * scala-reflect on the class path.
   *
   * @param direction encode or decode
   * @param output    the Encode or Decode output mode
   * @param nullToNull encode only: a NULL element gives a NULL key
   *                   instead of the reference's error
   * @param returnType the result type as Spark JSON
   */
  public static UserDefinedFunction udf(String direction, String curve, int elemBits,
      int n, String output, boolean nullToNull, String returnType) {
    String key = String.join("|", direction, curve, Integer.toString(elemBits),
        Integer.toString(n), output, Boolean.toString(nullToNull), returnType);
    UserDefinedFunction cached = UDFS.get(key);
    if (cached != null) return cached;
    UDF1<?, ?> f;
    if (direction.equals("encode")) f = new Encode(curve, elemBits, n, output, nullToNull);
    else if (direction.equals("decode")) f = new Decode(curve, elemBits, n, output);
    else throw new IllegalArgumentException("LINDEL: unknown direction " + direction);
    UserDefinedFunction built;
    try {
      built = (UserDefinedFunction) functions.class
          .getMethod("udf", UDF1.class, DataType.class)
          .invoke(null, f, DataType.fromJson(returnType));
    } catch (ReflectiveOperationException e) {
      throw new IllegalStateException("LINDEL: cannot build the curve UDF", e);
    }
    UserDefinedFunction named = built.withName(curve + "_" + direction);
    cached = UDFS.putIfAbsent(key, named);
    return cached != null ? cached : named;
  }

  /** A column name, or a Column passed through. */
  static Column col(Object c) {
    return c instanceof Column ? (Column) c : functions.col((String) c);
  }

  /**
   * An encode Column. {@code arg} is a List of scalar columns (names or
   * Columns; list form: each is cast to {@code elemType}, a NULL in any
   * gives a NULL key) or one array column (array form: cast to
   * {@code array<elemType>}, a NULL element raises). The casts are
   * Spark's, so an out-of-range input raises CAST_OVERFLOW under ANSI.
   */
  public static Column encode(String curve, int elemBits, int n, String output,
      String returnType, String elemType, Object arg) {
    boolean listForm = arg instanceof List;
    Column in;
    if (listForm) {
      List<?> parts = (List<?>) arg;
      Column[] cast = new Column[parts.size()];
      for (int i = 0; i < cast.length; i++) cast[i] = col(parts.get(i)).cast(elemType);
      in = functions.array(cast);
    } else {
      in = col(arg).cast("array<" + elemType + ">");
    }
    return udf("encode", curve, elemBits, n, output, listForm, returnType).apply(in);
  }

  /** A decode Column over {@code arg} cast to {@code carrier} (bigint or binary). */
  public static Column decode(String curve, int elemBits, int n, String output,
      String returnType, String carrier, Object arg) {
    return udf("decode", curve, elemBits, n, output, false, returnType)
        .apply(col(arg).cast(carrier));
  }

  // ---------------------------------------------------------------------
  // kernels
  // ---------------------------------------------------------------------

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

  /**
   * Word-parallel interleave of n elements of {@code bits} bits: bit j of
   * element i goes to key bit {@code j*n + (n-1-i)}. Each element's bits
   * are spread to stride n in log2(bits) shift-and-mask steps (the magic
   * numbers, for n = 2), one word at a time: an element whose bits
   * straddle bit 64 of a 128-bit key is spread as a low part into lo and
   * a high part into hi.
   */
  static final class Lace implements java.io.Serializable {
    final int n;
    final int[] loBits;      // per element: how many low bits land in lo
    final long[][] loMasks;
    final int[] hiShift;     // per element: where its high part starts in hi
    final long[][] hiMasks;

    Lace(int bits, int n) {
      this.n = n;
      loBits = new int[n];
      loMasks = new long[n][];
      hiShift = new int[n];
      hiMasks = new long[n][];
      for (int i = 0; i < n; i++) {
        int off = n - 1 - i;
        loBits[i] = Math.min(bits, (63 - off) / n + 1);
        loMasks[i] = masks(loBits[i], n);
        int hiBits = bits - loBits[i];
        hiShift[i] = loBits[i] * n + off - 64;
        hiMasks[i] = hiBits > 0 ? masks(hiBits, n) : null;
      }
    }

    /**
     * {@code m[s]}: where the low {@code c} bits of a value sit once
     * spread to stride n in groups of 2^s (bit j at
     * {@code (j >> s) * 2^s * n + (j & (2^s - 1))}); the last entry is
     * the packed value, the first the fully spread one.
     */
    static long[] masks(int c, int n) {
      int steps = n == 1 ? 0 : 32 - Integer.numberOfLeadingZeros(c - 1);
      long[] m = new long[steps + 1];
      for (int s = 0; s <= steps; s++) {
        for (int j = 0; j < c; j++) {
          m[s] |= 1L << ((j >> s) * (n << s) + (j & ((1 << s) - 1)));
        }
      }
      return m;
    }

    static long spread(long v, long[] m, int n) {
      int last = m.length - 1;
      long x = v & m[last];
      for (int s = last; s >= 1; s--) x = (x | (x << ((n - 1) << (s - 1)))) & m[s - 1];
      return x;
    }

    static long compact(long w, long[] m, int n) {
      long x = w & m[0];
      for (int s = 1; s < m.length; s++) x = (x | (x >>> ((n - 1) << (s - 1)))) & m[s];
      return x;
    }

    /** key[0] = hi, key[1] = lo of the interleave of x. */
    void interleave(long[] x, long[] key) {
      long hi = 0;
      long lo = 0;
      for (int i = 0; i < n; i++) {
        lo |= spread(x[i], loMasks[i], n) << (n - 1 - i);
        if (hiMasks[i] != null) hi |= spread(x[i] >>> loBits[i], hiMasks[i], n) << hiShift[i];
      }
      key[0] = hi;
      key[1] = lo;
    }

    /** Inverse of {@link #interleave}. */
    void deinterleave(long[] key, long[] x) {
      for (int i = 0; i < n; i++) {
        long v = compact(key[1] >>> (n - 1 - i), loMasks[i], n);
        if (hiMasks[i] != null) v |= compact(key[0] >>> hiShift[i], hiMasks[i], n) << loBits[i];
        x[i] = v;
      }
    }
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

  // The 2-D curve that Skilling's transform draws, as the 4-state quadrant
  // machine of Butz (1971) and Lam & Shapiro (1994): in state s, the
  // quadrant q = (bit of x0) << 1 | (bit of x1) of the next level gets the
  // key digit DIGIT[s][q] and leads to state NEXT[s][q]. Every key starts
  // in state 0, so the machine reads the Morton key two bits at a time.
  private static final int[][] DIGIT = {{0, 1, 3, 2}, {0, 3, 1, 2}, {2, 1, 3, 0}, {2, 3, 1, 0}};
  private static final int[][] NEXT = {{1, 0, 2, 0}, {0, 3, 1, 1}, {2, 2, 0, 3}, {3, 1, 3, 2}};

  /**
   * Four levels per lookup: entry {@code s << 8 | mortonByte} holds
   * {@code hilbertByte << 2 | next state}; {@link #H2_DECODE} is the
   * inverse map.
   */
  static final short[] H2_ENCODE = new short[4 << 8];
  static final short[] H2_DECODE = new short[4 << 8];

  static {
    for (int s0 = 0; s0 < 4; s0++) {
      for (int b = 0; b < 256; b++) {
        int se = s0;
        int sd = s0;
        int enc = 0;
        int dec = 0;
        for (int k = 3; k >= 0; k--) {
          int q = (b >>> (2 * k)) & 3;
          enc = (enc << 2) | DIGIT[se][q];
          se = NEXT[se][q];
          int qd = 0;
          while (DIGIT[sd][qd] != q) qd++;  // b read as Hilbert digits
          dec = (dec << 2) | qd;
          sd = NEXT[sd][qd];
        }
        H2_ENCODE[(s0 << 8) | b] = (short) ((enc << 2) | se);
        H2_DECODE[(s0 << 8) | b] = (short) ((dec << 2) | sd);
      }
    }
  }

  /** Rewrites the {@code keyBits}-bit key in (key[0], key[1]) through
   *  {@code table}, most significant byte first. */
  static void walk(short[] table, long[] key, int keyBits) {
    int s = 0;
    for (int w = keyBits > 64 ? 0 : 1; w < 2; w++) {
      long v = key[w];
      long out = 0;
      for (int sh = Math.min(keyBits, 64) - 8; sh >= 0; sh -= 8) {
        int e = table[(s << 8) | (int) ((v >>> sh) & 0xFF)];
        out |= (long) (e >>> 2) << sh;
        s = e & 3;
      }
      key[w] = out;
    }
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
    private final boolean nullToNull;
    private final Lace lace;

    /**
     * @param output long, binary (big-endian, unsigned order) or decimal
     * @param nullToNull a NULL element gives a NULL key instead of raising
     */
    public Encode(String curve, int elemBits, int n, String output, boolean nullToNull) {
      this.hilbert = isHilbert(curve);
      this.bits = elemBits;
      this.n = n;
      this.widthBytes = totalBits(elemBits, n) / 8;
      if (!output.equals("long") && !output.equals("binary")
          && !output.equals("decimal")) {
        throw new IllegalArgumentException("LINDEL: unknown output mode " + output);
      }
      this.output = output.charAt(0);
      this.nullToNull = nullToNull;
      this.lace = new Lace(elemBits, n);
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
        if (v == null) {
          if (nullToNull) return null;
          throw new IllegalArgumentException(NULL_ELEM);
        }
        long raw;
        // raw bit-casts: the non-raw forms canonicalise NaN payloads
        if (v instanceof Double) raw = Double.doubleToRawLongBits((Double) v);
        else if (v instanceof Float) raw = Float.floatToRawIntBits((Float) v);
        else raw = ((Number) v).longValue();
        x[i] = raw & m;
      }
      boolean table = hilbert && n == 2;
      if (hilbert && !table) axesToTranspose(x, bits);
      long[] key = new long[2];
      lace.interleave(x, key);
      if (table) walk(H2_ENCODE, key, 2 * bits);
      long hi = key[0];
      long lo = key[1];
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
    private final Lace lace;

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
      this.lace = elemBits == 128 ? null : new Lace(elemBits, n);
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
      long[] k = {hi, lo};
      boolean table = hilbert && n == 2;
      if (table) walk(H2_DECODE, k, 2 * bits);
      long[] x = new long[n];
      lace.deinterleave(k, x);
      if (hilbert && !table) transposeToAxes(x, bits);
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
