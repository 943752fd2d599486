package hdfs2cass_spark.jvm;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.math.BigDecimal;
import java.math.BigInteger;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;

/**
 * Cassandra partition tokens, and the bytes of the types Catalyst cannot
 * serialize, as Spark SQL functions that run inside whole-stage codegen.
 * functions/murmur3.py, md5token.py and serde.py are their readable specs.
 */
public final class Tokens {
  private Tokens() {}

  /** Murmur3Partitioner.getToken: MurmurHash3 x64 128, seed 0, first half. */
  public static final class Murmur3 implements UDF1<byte[], Long> {
    private static final long C1 = 0x87c37b91114253d5L;
    private static final long C2 = 0x4cf5ad432745937fL;
    private static final VarHandle LE64 =
        MethodHandles.byteArrayViewVarHandle(long[].class, ByteOrder.LITTLE_ENDIAN);

    @Override
    public Long call(byte[] key) {
      if (key == null || key.length == 0) {
        return Long.MIN_VALUE;
      }
      long h = hash(key);
      return h == Long.MIN_VALUE ? Long.MAX_VALUE : h;
    }

    static long hash(byte[] key) {
      int len = key.length;
      int blocks = len >>> 4;
      long h1 = 0;
      long h2 = 0;
      for (int i = 0; i < blocks; i++) {
        long k1 = (long) LE64.get(key, i << 4);
        long k2 = (long) LE64.get(key, (i << 4) + 8);
        h1 ^= Long.rotateLeft(k1 * C1, 31) * C2;
        h1 = (Long.rotateLeft(h1, 27) + h2) * 5 + 0x52dce729;
        h2 ^= Long.rotateLeft(k2 * C2, 33) * C1;
        h2 = (Long.rotateLeft(h2, 31) + h1) * 5 + 0x38495ab5;
      }
      // Cassandra sign-extends tail bytes ((long) byte), unlike vanilla murmur3
      int off = blocks << 4;
      int tail = len & 15;
      long k1 = 0;
      long k2 = 0;
      for (int i = tail - 1; i >= 8; i--) {
        k2 ^= ((long) key[off + i]) << ((i - 8) * 8);
      }
      if (tail > 8) {
        h2 ^= Long.rotateLeft(k2 * C2, 33) * C1;
      }
      for (int i = Math.min(tail, 8) - 1; i >= 0; i--) {
        k1 ^= ((long) key[off + i]) << (i * 8);
      }
      if (tail > 0) {
        h1 ^= Long.rotateLeft(k1 * C1, 31) * C2;
      }
      h1 ^= len;
      h2 ^= len;
      h1 += h2;
      h2 += h1;
      return fmix(h1) + fmix(h2);
    }

    private static long fmix(long k) {
      k = (k ^ (k >>> 33)) * 0xff51afd7ed558ccdL;
      k = (k ^ (k >>> 33)) * 0xc4ceb9fe1a85ec53L;
      return k ^ (k >>> 33);
    }
  }

  /**
   * RandomPartitioner.getToken plus its reducer: token = abs(BigInteger(md5(key))),
   * carried as a 39-digit zero-padded string so string order is ring order, and
   * bucket = token / rangePerReducer over the 2^127 ring.
   */
  public static final class Md5Bucket implements UDF2<byte[], Integer, Row> {
    private static final BigInteger RING = BigInteger.ONE.shiftLeft(127);
    private static final ThreadLocal<MessageDigest> MD5 =
        ThreadLocal.withInitial(
            () -> {
              try {
                return MessageDigest.getInstance("MD5");
              } catch (NoSuchAlgorithmException e) {
                throw new IllegalStateException(e);
              }
            });

    /** ceil(2^127 / buckets) for the last bucket count; it is a literal per call site. */
    private record Range(int buckets, BigInteger size) {}
    private transient Range last;

    @Override
    public Row call(byte[] key, Integer buckets) {
      BigInteger token =
          key == null || key.length == 0
              ? BigInteger.ZERO
              : new BigInteger(MD5.get().digest(key)).abs();
      Range range = last;
      if (range == null || range.buckets != buckets) {
        BigInteger n = BigInteger.valueOf(buckets);
        range = last = new Range(buckets, RING.add(n).subtract(BigInteger.ONE).divide(n));
      }
      String digits = token.toString();
      return RowFactory.create(
          "0".repeat(39 - digits.length()) + digits, token.divide(range.size).intValue());
    }
  }

  /** DoubleSerializer: the IEEE 754 bits, big-endian. */
  public static final class DoubleBytes implements UDF1<Double, byte[]> {
    @Override
    public byte[] call(Double v) {
      return v == null ? null : ByteBuffer.allocate(8).putDouble(v).array();
    }
  }

  /** FloatSerializer: the IEEE 754 bits, big-endian. */
  public static final class FloatBytes implements UDF1<Float, byte[]> {
    @Override
    public byte[] call(Float v) {
      return v == null ? null : ByteBuffer.allocate(4).putFloat(v).array();
    }
  }

  /** DecimalSerializer: a 4-byte scale, then the unscaled two's complement. */
  public static final class DecimalBytes implements UDF1<BigDecimal, byte[]> {
    @Override
    public byte[] call(BigDecimal v) {
      if (v == null) {
        return null;
      }
      byte[] unscaled = v.unscaledValue().toByteArray();
      return ByteBuffer.allocate(4 + unscaled.length).putInt(v.scale()).put(unscaled).array();
    }
  }
}
