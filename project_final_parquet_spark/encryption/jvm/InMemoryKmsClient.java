package sparkgraft.pme;

import java.nio.charset.StandardCharsets;
import java.util.Base64;
import java.util.HashMap;
import java.util.Map;
import org.apache.parquet.crypto.KeyAccessDeniedException;
import org.apache.parquet.crypto.ParquetCryptoRuntimeException;
import org.apache.parquet.crypto.keytools.LocalWrapKmsClient;

/**
 * In-memory KMS for Parquet Modular Encryption: master keys arrive via the
 * Hadoop configuration property {@code sparkgraft.pme.secret.key.list} as
 * comma-separated {@code keyId:base64Key} entries (the same contract as
 * parquet-mr's test mock, re-stated here because the mock ships only in
 * test jars).
 *
 * <p>Extends {@link LocalWrapKmsClient}, so data keys are wrapped LOCALLY
 * with the master key (no server round-trip) — executor tasks unwrap
 * column keys in parallel with nothing but this class + the conf. The
 * reference's KMS surface is GenerateDataKey/DecryptDataKey envelope
 * encryption (reference src/kms.cpp:8-30); PropertiesDrivenCryptoFactory
 * drives the same envelope flow through the format-native footer/column
 * key metadata.
 */
public class InMemoryKmsClient extends LocalWrapKmsClient {
  // "secret" in the name makes Spark's default spark.redaction.regex mask
  // the value wherever it prints writer options, e.g. the write command in
  // the SQL status store and event log.
  public static final String KEY_LIST_PROPERTY = "sparkgraft.pme.secret.key.list";

  private Map<String, byte[]> masterKeys;

  @Override
  protected void initializeInternal() throws KeyAccessDeniedException {
    masterKeys = new HashMap<>();
    String[] entries = hadoopConfiguration.getTrimmedStrings(KEY_LIST_PROPERTY);
    for (String entry : entries) {
      int sep = entry.indexOf(':');
      if (sep <= 0) {
        throw new ParquetCryptoRuntimeException(
            "malformed " + KEY_LIST_PROPERTY + " entry: " + entry);
      }
      String keyId = entry.substring(0, sep).trim();
      byte[] key =
          Base64.getDecoder()
              .decode(entry.substring(sep + 1).trim().getBytes(StandardCharsets.UTF_8));
      masterKeys.put(keyId, key);
    }
    if (masterKeys.isEmpty()) {
      throw new ParquetCryptoRuntimeException(
          "no master keys configured; set " + KEY_LIST_PROPERTY);
    }
  }

  @Override
  protected byte[] getMasterKeyFromServer(String masterKeyIdentifier)
      throws KeyAccessDeniedException {
    byte[] key = masterKeys.get(masterKeyIdentifier);
    if (key == null) {
      throw new KeyAccessDeniedException("unknown master key: " + masterKeyIdentifier);
    }
    return key;
  }
}
