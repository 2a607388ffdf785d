package nms;

import java.nio.charset.StandardCharsets;
import java.security.DigestException;
import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;
import java.util.Arrays;

import org.apache.spark.sql.api.java.UDF5;
import org.apache.spark.sql.catalyst.expressions.XXH64;
import org.apache.spark.unsafe.Platform;

/**
 * MinHash LSH band keys of one normalized text, in one call per row
 * (name_matcher_spark/operators/dedup.py::band_buckets).
 *
 * Shingles are the code-point windows of length k, as Spark's
 * substr(t, i, k) cuts them. For each of num_hashes hash functions the
 * minimum over all shingles is kept (a repeated shingle cannot change a
 * minimum, so no de-duplication is needed); band b joins minima
 * b*r .. b*r+r-1 (r = num_hashes / bands) with '|'.
 *
 * hash_fn:
 *   md5      - md5(utf8(gram) || ":" || i); the minimum is taken over
 *              the unsigned digest bytes, the same order as Spark's
 *              lowercase-hex md5 strings, and only minima are hex-encoded.
 *   xxhash64 - Spark's xxhash64(gram, i): the gram's bytes hashed with
 *              seed 42, that hash seeding the int i; signed minimum,
 *              keys printed as cast(long as string).
 *
 * Bit-identical to the shingle-explode + min-aggregate formulation it
 * replaced; differential-tested in tests/test_dedup.py.
 */
public class NmsMinHashBands
    implements UDF5<String, Integer, Integer, Integer, String, String[]> {

  private static final ThreadLocal<MessageDigest> MD5 =
      ThreadLocal.withInitial(() -> {
        try {
          return MessageDigest.getInstance("MD5");
        } catch (NoSuchAlgorithmException e) {
          throw new IllegalStateException(e);
        }
      });

  private static final char[] HEX = "0123456789abcdef".toCharArray();

  @Override
  public String[] call(String t, Integer k, Integer numHashes, Integer bands, String hashFn) {
    if (t == null) {
      return null;
    }
    int nh = numHashes;
    int nb = bands;
    if (nb <= 0 || nh % nb != 0) {
      throw new IllegalArgumentException(
          "num_hashes=" + nh + " must be divisible by bands=" + nb);
    }
    boolean md5 = "md5".equals(hashFn);
    if (!md5 && !"xxhash64".equals(hashFn)) {
      throw new IllegalArgumentException("unknown hash_fn: " + hashFn);
    }
    byte[] utf8 = t.getBytes(StandardCharsets.UTF_8);
    // starts[j] = byte offset of code point j; starts[n] = utf8.length.
    int[] starts = new int[utf8.length + 1];
    int n = 0;
    for (int i = 0; i < utf8.length; i++) {
      if ((utf8[i] & 0xC0) != 0x80) {
        starts[n++] = i;
      }
    }
    starts[n] = utf8.length;
    if (n < k) {
      return new String[0];
    }
    String[] mins = md5 ? md5Mins(utf8, starts, n, k, nh) : xxMins(utf8, starts, n, k, nh);
    int r = nh / nb;
    String[] keys = new String[nb];
    for (int b = 0; b < nb; b++) {
      keys[b] = String.join("|", Arrays.copyOfRange(mins, b * r, b * r + r));
    }
    return keys;
  }

  private static String[] md5Mins(byte[] utf8, int[] starts, int n, int k, int nh) {
    MessageDigest md = MD5.get();
    byte[][] suffix = new byte[nh][];
    for (int i = 0; i < nh; i++) {
      suffix[i] = (":" + i).getBytes(StandardCharsets.US_ASCII);
    }
    byte[] mins = new byte[nh * 16];
    byte[] d = new byte[16];
    for (int g = 0; g + k <= n; g++) {
      int off = starts[g];
      int len = starts[g + k] - off;
      for (int i = 0; i < nh; i++) {
        md.update(utf8, off, len);
        md.update(suffix[i]);
        try {
          md.digest(d, 0, 16);
        } catch (DigestException e) {
          throw new IllegalStateException(e);
        }
        int m = i * 16;
        if (g == 0 || Arrays.compareUnsigned(d, 0, 16, mins, m, m + 16) < 0) {
          System.arraycopy(d, 0, mins, m, 16);
        }
      }
    }
    String[] out = new String[nh];
    char[] hex = new char[32];
    for (int i = 0; i < nh; i++) {
      for (int j = 0; j < 16; j++) {
        int v = mins[i * 16 + j] & 0xFF;
        hex[2 * j] = HEX[v >>> 4];
        hex[2 * j + 1] = HEX[v & 0x0F];
      }
      out[i] = new String(hex);
    }
    return out;
  }

  private static String[] xxMins(byte[] utf8, int[] starts, int n, int k, int nh) {
    long[] mins = new long[nh];
    Arrays.fill(mins, Long.MAX_VALUE);
    for (int g = 0; g + k <= n; g++) {
      int off = starts[g];
      long seed = XXH64.hashUnsafeBytes(
          utf8, Platform.BYTE_ARRAY_OFFSET + off, starts[g + k] - off, 42L);
      for (int i = 0; i < nh; i++) {
        long h = XXH64.hashInt(i, seed);
        if (h < mins[i]) {
          mins[i] = h;
        }
      }
    }
    String[] out = new String[nh];
    for (int i = 0; i < nh; i++) {
      out[i] = Long.toString(mins[i]);
    }
    return out;
  }
}
