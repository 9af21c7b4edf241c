package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(string) -> string`: Unicode canonical composition
  * (NFC) — the standard text-cleaning step a multilingual corpus runs
  * before tokenization/dedup, so that `é` and `e`+COMBINING ACUTE hash,
  * shingle, and dedup identically. Named after DuckDB's own
  * `nfc_normalize`, which is the oracle twin.
  *
  * Why a native kernel: normalization sits on the scan→clean hot path of
  * every document; a codegen'd call into the JDK's `java.text.Normalizer`
  * (ICU-derived composition tables) keeps it inside whole-stage codegen
  * with a pure-ASCII fast path — the overwhelmingly common case in mixed
  * corpora — that returns the input UTF8String untouched (no transcode,
  * no allocation; NFC is the identity on ASCII).
  */
object NfcNormalize {

  /** NFC composition, called from both interpreted and generated code.
    * ASCII inputs (byte count == char count) return the SAME UTF8String —
    * NFC is the identity there and the fast path skips the
    * UTF8String→String→UTF8String transcode entirely.
    */
  def nfc(s: UTF8String): UTF8String = {
    if (s.numBytes() == s.numChars()) return s // pure ASCII: identity
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
