package graft.functions

import graft.expressions.{DeflateRatio, NGrams, NfcNormalize, Tokenize}
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Text / string column functions — SURVEY.md §2.8, §2.10.
  *
  * All pure built-in compositions (codegen'd, no UDFs). The string-cleaning
  * semantics mirror the reference's ad-hoc Python: whitespace strip
  * (`data_seoul_1_category.py:72,82`), zero-pad naming
  * (`data_seoul_2_csv_noopenapi.py:68-69`), camel→snake
  * (`data_seoul_3_csv.py:110-111`).
  */
object TextFunctions {

  /** Collapse internal whitespace runs and trim (cf. the reference's chained
    * `.replace("\t","").replace("\n","")` + `.strip()`). */
  def normalizeWs(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** camelCase → SNAKE_CASE. The reference uses a lookahead regex
    * (`re.sub(r'(?<!^)(?=[A-Z])', '_', s).upper()`, data_seoul_3_csv.py:110);
    * the capture-group form used here is equivalent on camelCase input and
    * additionally portable to RE2-based engines (DuckDB) for the oracle. */
  def camelToSnake(c: Column): Column =
    upper(regexp_replace(c, "([a-z0-9])([A-Z])", "$1_$2"))

  /** Zero-padded derived name, e.g. dataset id 23 → "NLDATA_000023"
    * (cf. `"NLDATA_" + str(id).rjust(6,"0")`, data_seoul_2_csv_noopenapi.py:69). */
  def paddedName(prefix: String, id: Column, width: Int): Column =
    concat(lit(prefix), lpad(id.cast("string"), width, "0"))

  /** Whitespace tokens, lowercased, empties removed — native codegen
    * expression (graft.expressions.Tokenize); see [[tokensHof]] for the
    * built-in formulation it is verified against. */
  def tokens(c: Column): Column =
    GraftColumnBridge.column(Tokenize(GraftColumnBridge.expression(c)))

  /** Unicode NFC canonical composition — native codegen expression
    * (graft.expressions.NfcNormalize); normalize before hashing/dedup so
    * composed and decomposed forms of the same text collide. */
  def nfc(c: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(c)))

  /** Built-in-composition tokenizer, kept as the differential-test oracle
    * for [[tokens]]. The `filter` lambda runs interpreted — measurably
    * slower on hot paths, which is why the native expression exists. */
  def tokensHof(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** BPE-ish tokenization: word pieces plus single punctuation marks. */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0))

  /** Token n-grams as space-joined strings (n >= 2) — native codegen
    * expression (graft.expressions.NGrams); see [[ngramsHof]] for the
    * built-in formulation it is verified against. */
  def ngrams(toks: Column, n: Int): Column =
    GraftColumnBridge.column(NGrams(GraftColumnBridge.expression(toks), n))

  /** Built-in-composition n-grams, kept as the differential-test oracle
    * for [[ngrams]].
    *
    * Formulated as zip_with over n shifted slices, NOT as an index walk
    * (`transform(sequence(1, L), i -> element_at(toks, i + k))`): HOFs run
    * interpreted, and element_at over a *computed* array expression
    * re-evaluates that expression per element — O(tokens²) per row, ~2.6ms
    * per document measured. The slice/zip_with form evaluates each input
    * array once per row. Short inputs: the slice length clamps to 0 →
    * empty result (also sidesteps sequence(1, 0) being DESCENDING). */
  def ngramsHof(toks: Column, n: Int): Column = {
    val len = greatest(size(toks) - (n - 1), lit(0))
    val parts = (0 until n).map(k => slice(toks, lit(k + 1), len))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
  }

  /** zlib-deflate compression ratio (compressed/raw bytes) — the
    * repetitiveness quality signal; native codegen expression
    * (graft.expressions.DeflateRatio). */
  def deflateRatio(c: Column): Column =
    GraftColumnBridge.column(DeflateRatio(GraftColumnBridge.expression(c)))

  /** Count of tokens that appear in a fixed vocabulary. */
  def vocabCount(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isin(vocab: _*)))

  /** Content fingerprint: md5 of the text's [[tokens]] joined by single
    * spaces — the portable exact-dup key. Byte for byte this is
    * `md5(normalizeWs(lower(c)))` (the same six ASCII whitespace bytes,
    * no leading or trailing space), lowercased as [[tokens]] lowercases. */
  def fingerprintMd5(c: Column): Column =
    md5(array_join(tokens(c), " "))

  /** Polynomial rolling hash over the first k tokens (length-based, engine
    * portable): h = fold(h*31 + len(token)) mod 1e9+7. */
  def rollingHash(toks: Column, k: Int): Column =
    aggregate(
      slice(toks, 1, k),
      lit(0L),
      (h, t) => pmod(h * lit(31L) + length(t).cast("long"), lit(1000000007L)))
}
