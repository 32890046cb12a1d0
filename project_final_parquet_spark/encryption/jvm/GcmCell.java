package sparkgraft.cell;

import java.security.GeneralSecurityException;
import java.security.SecureRandom;
import java.util.Arrays;
import javax.crypto.Cipher;
import javax.crypto.spec.GCMParameterSpec;
import javax.crypto.spec.SecretKeySpec;
import org.apache.spark.sql.api.java.UDF2;

/**
 * AES-GCM cell kernel for the cell-level encryption path (cell.py): Spark
 * SQL functions {@code cell_gcm_encrypt(binary, key)} and
 * {@code cell_gcm_decrypt(binary, key)}.
 *
 * <p>A cell blob is {@code [12B IV][ciphertext][16B tag]}, the layout of
 * Spark's {@code aes_encrypt(..., 'GCM')} and of the reference
 * (src/crypto_utils.cpp:63-95), so blobs written by either open with the
 * other. Every encrypt draws a fresh IV from a per-thread
 * {@link SecureRandom}. NULL in gives NULL out; a blob that is too short,
 * fails its tag or was sealed under another key throws, never returns
 * NULL or garbage.
 */
public final class GcmCell {
  static final int IV_BYTES = 12;
  static final int TAG_BYTES = 16;

  // Spark's aes_encrypt/aes_decrypt call Cipher.getInstance and build a
  // SecretKeySpec for every cell, so each cell pays the JCE provider
  // lookup and the AES key schedule again: 5-9 us per 10-19-byte cell,
  // against 0.5-0.8 us with a Cipher reused per key (JDK 17
  // microbenchmark). One Cipher per thread switching between 6 column
  // keys took 2-4.7 us, since every switch re-expands the key; hence one
  // Cipher per (thread, key). The cache is bounded because each KMS write
  // draws fresh data keys and executor threads live as long as the
  // session.
  static final int MAX_KEYS = 16;

  private static final class Entry {
    final byte[] key;
    final SecretKeySpec spec;
    final Cipher cipher;

    Entry(byte[] key) throws GeneralSecurityException {
      this.key = key.clone();
      this.spec = new SecretKeySpec(this.key, "AES");
      this.cipher = Cipher.getInstance("AES/GCM/NoPadding");
    }
  }

  /** One thread's ciphers, oldest replaced first, and its IV source. */
  private static final class ThreadState {
    final Entry[] entries = new Entry[MAX_KEYS];
    int oldest;
    final SecureRandom random = new SecureRandom();

    Entry cipherFor(byte[] key) throws GeneralSecurityException {
      for (Entry e : entries) {
        if (e == null) {
          break;
        }
        if (Arrays.equals(e.key, key)) {
          return e;
        }
      }
      Entry e = new Entry(key);
      entries[oldest] = e;
      oldest = (oldest + 1) % MAX_KEYS;
      return e;
    }
  }

  private static final ThreadLocal<ThreadState> STATE =
      ThreadLocal.withInitial(ThreadState::new);

  private GcmCell() {}

  public static final class Encrypt implements UDF2<byte[], byte[], byte[]> {
    @Override
    public byte[] call(byte[] plain, byte[] key) throws Exception {
      if (plain == null || key == null) {
        return null;
      }
      ThreadState state = STATE.get();
      Entry e = state.cipherFor(key);
      byte[] out = new byte[IV_BYTES + plain.length + TAG_BYTES];
      byte[] iv = new byte[IV_BYTES];
      state.random.nextBytes(iv);
      System.arraycopy(iv, 0, out, 0, IV_BYTES);
      e.cipher.init(Cipher.ENCRYPT_MODE, e.spec, new GCMParameterSpec(TAG_BYTES * 8, iv));
      e.cipher.doFinal(plain, 0, plain.length, out, IV_BYTES);
      return out;
    }
  }

  public static final class Decrypt implements UDF2<byte[], byte[], byte[]> {
    @Override
    public byte[] call(byte[] blob, byte[] key) throws Exception {
      if (blob == null || key == null) {
        return null;
      }
      if (blob.length < IV_BYTES + TAG_BYTES) {
        throw new IllegalArgumentException(
            "AES-GCM cell blob of " + blob.length + " bytes is shorter than its "
                + (IV_BYTES + TAG_BYTES) + "-byte IV and tag");
      }
      Entry e = STATE.get().cipherFor(key);
      e.cipher.init(
          Cipher.DECRYPT_MODE, e.spec, new GCMParameterSpec(TAG_BYTES * 8, blob, 0, IV_BYTES));
      return e.cipher.doFinal(blob, IV_BYTES, blob.length - IV_BYTES);
    }
  }
}
