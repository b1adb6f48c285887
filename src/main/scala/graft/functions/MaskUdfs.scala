package graft.functions

import java.math.{BigDecimal => Dec}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.codec.Codec

/** One graft SQL function: its name, `DESCRIBE FUNCTION` usage text and
  * Catalyst builder. */
final case class SqlFunction(name: String, usage: String, builder: Seq[Expression] => Expression) {
  def identifier: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo = new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "")
}

/** The graft SQL function table: every SQL function graft defines, built
  * from one (codec, passphrase). Both packagings read it —
  * [[register]] (and `Defaults.registerAll`) put it into a session, and
  * [[graft.GraftExtensions]] injects it at session build time — so both
  * serve the same names.
  *
  * The `mask_*` family matches the reference plugin's registration
  * (`ai.tripl.arc.udf.MaskDataPlugin`):
  *
  *   mask_string(length INT, deterministic BOOL, value STRING) -> STRING
  *   mask_string_alphabet(length INT, alphabet STRING, deterministic BOOL, value STRING) -> STRING
  *   mask_string_alphabet_format(length INT, alphabet STRING, format STRING, deterministic BOOL, value STRING) -> STRING
  *   mask_date(range INT, deterministic BOOL, value DATE) -> DATE
  *   mask_timestamp(range INT, deterministic BOOL, value TIMESTAMP) -> TIMESTAMP
  *   mask_decimal(range DECIMAL, deterministic BOOL, value DECIMAL) -> DECIMAL
  *
  * All are registered `asNondeterministic`: with `deterministic=false` the
  * reference's hash is pure SecureRandom, and Catalyst must not CSE,
  * re-execute, or reorder such calls (the reference registers them as plain
  * deterministic UDFs — a latent correctness bug, SURVEY.md §2.6 Q2). For
  * deterministic-by-construction pipelines that want Catalyst optimizations,
  * `mask_*_det` twins are registered WITHOUT the nondeterministic flag; they
  * hard-wire deterministic=true.
  *
  * Date and timestamp UDFs take `java.time` values: their input encoders
  * convert the same way whatever `spark.sql.datetime.java8API.enabled` says.
  *
  * Registering the table builds closures only: no UDF encoder is derived and
  * no analytics object (LangId profiles, vocabularies) is initialised until
  * a function is first used.
  */
object MaskUdfs {

  def register(spark: SparkSession, codec: Codec, passphrase: Array[Byte]): Unit =
    functions(codec, passphrase).foreach(f =>
      GraftBridge.registerFunction(spark, f.identifier, f.info, f.builder))

  // `f` is built per call: registering the table derives no encoders
  private def udfFn(name: String, usage: String)(f: => UserDefinedFunction): SqlFunction =
    SqlFunction(name, usage, children =>
      GraftBridge.sqlExpression(f.withName(name)(children.map(GraftBridge.column): _*)))

  private def exprFn(name: String, usage: String, arity: Int)(build: Seq[Expression] => Expression): SqlFunction =
    SqlFunction(name, usage, { children =>
      if (children.length != arity)
        throw new IllegalArgumentException(s"$name expects $arity argument(s): $usage")
      build(children)
    })

  // native expressions / column builders exposed to plain SQL (no UDF
  // wrapper — these stay codegen'd in SQL too)
  private def colFn(name: String, usage: String, arity: Int)(build: Seq[Column] => Column): SqlFunction =
    exprFn(name, usage, arity)(children => GraftBridge.sqlExpression(build(children.map(GraftBridge.column))))

  // literal trailing arguments are resolved at plan time, so the SQL form
  // requires a constant (the expression itself is parameterized by it)
  private def literal(e: Expression, what: String): Any =
    if (e.resolved && e.foldable) e.eval(null)
    else throw new IllegalArgumentException(s"$what must be an integer literal, got ${e.sql}")

  private def litInt(e: Expression, what: String): Int = literal(e, what) match {
    case v: Int => v
    case v => throw new IllegalArgumentException(s"$what must be an integer literal, got $v")
  }

  def functions(codec: Codec, passphrase: Array[Byte]): Seq[SqlFunction] = {
    import MaskFunctions.DefaultAlphabet
    val fString = MaskFunctions.maskString(codec, passphrase) _
    val fDate = MaskFunctions.maskLocalDate(codec, passphrase) _
    val fTimestamp = MaskFunctions.maskInstant(codec, passphrase) _
    val fDecimal = MaskFunctions.maskDecimal(codec, passphrase) _
    val pick = Vocab.pick(codec, passphrase) _
    val email = Vocab.maskEmail(codec, passphrase) _
    val fpeMask = Fpe.mask(passphrase)
    val fpeUnmask = Fpe.unmask(passphrase)
    val fpeKey = Fpe.deriveKey(passphrase)

    Seq(
      udfFn("mask_string", "mask_string(length, deterministic, value)") {
        udf((l: Int, d: Boolean, v: String) => fString(l, DefaultAlphabet, None, d, v)).asNondeterministic()
      },
      udfFn("mask_string_alphabet", "mask_string_alphabet(length, alphabet, deterministic, value)") {
        udf((l: Int, a: String, d: Boolean, v: String) => fString(l, a, None, d, v)).asNondeterministic()
      },
      udfFn("mask_string_alphabet_format",
        "mask_string_alphabet_format(length, alphabet, format, deterministic, value)") {
        udf((l: Int, a: String, f: String, d: Boolean, v: String) =>
          fString(l, a, Option(f), d, v)).asNondeterministic()
      },
      udfFn("mask_date", "mask_date(range, deterministic, value)") {
        udf((r: Int, d: Boolean, v: LocalDate) => fDate(r, d, v)).asNondeterministic()
      },
      udfFn("mask_timestamp", "mask_timestamp(range, deterministic, value)") {
        udf((r: Int, d: Boolean, v: Instant) => fTimestamp(r, d, v)).asNondeterministic()
      },
      udfFn("mask_decimal", "mask_decimal(range, deterministic, value)") {
        udf((r: Dec, d: Boolean, v: Dec) => fDecimal(r, d, v)).asNondeterministic()
      },
      // deterministic twins: safe for CSE/pushdown, usable as join keys
      udfFn("mask_string_det", "mask_string_det(length, value) - mask_string with deterministic=true") {
        udf((l: Int, v: String) => fString(l, DefaultAlphabet, None, true, v))
      },
      udfFn("mask_date_det", "mask_date_det(range, value) - mask_date with deterministic=true") {
        udf((r: Int, v: LocalDate) => fDate(r, true, v))
      },
      udfFn("mask_timestamp_det", "mask_timestamp_det(range, value) - mask_timestamp with deterministic=true") {
        udf((r: Int, v: Instant) => fTimestamp(r, true, v))
      },
      udfFn("mask_decimal_det", "mask_decimal_det(range, value) - mask_decimal with deterministic=true") {
        udf((r: Dec, v: Dec) => fDecimal(r, true, v))
      },
      udfFn("mask_name", "mask_name(category, deterministic, value) - en-AU vocabulary pseudonym") {
        udf((c: String, d: Boolean, v: String) => pick("en-AU", c, d, v)).asNondeterministic()
      },
      udfFn("mask_email", "mask_email(deterministic, value) - masked local part @ free-email domain") {
        udf((d: Boolean, v: String) => email(d, v, "en-AU")).asNondeterministic()
      },
      // FF1 FPE is deterministic ENCRYPTION — no nondeterministic flag, so
      // Catalyst may CSE/push it like any pure function
      udfFn("mask_fpe", "mask_fpe(alphabet, tweak, value) - NIST SP 800-38G FF1 format-preserving mask") {
        udf((a: String, t: String, v: String) => fpeMask(a, t, v))
      },
      udfFn("unmask_fpe", "unmask_fpe(alphabet, tweak, value) - exact inverse of mask_fpe") {
        udf((a: String, t: String, v: String) => fpeUnmask(a, t, v))
      },
      udfFn("mask_fpe_number",
        "mask_fpe_number(min, max, tweak, value) - rank-then-encipher FF1 mask within [min, max]") {
        udf((min: Long, max: Long, t: String, v: java.lang.Long) => Fpe.maskLong(min, max, t, v, fpeKey))
      },
      udfFn("unmask_fpe_number", "unmask_fpe_number(min, max, tweak, value) - exact inverse of mask_fpe_number") {
        udf((min: Long, max: Long, t: String, v: java.lang.Long) =>
          Fpe.maskLong(min, max, t, v, fpeKey, forward = false))
      },
      udfFn("mask_fpe_date",
        "mask_fpe_date(min, max, tweak, value) - rank-then-encipher FF1 mask of a date within [min, max]") {
        udf((min: LocalDate, max: LocalDate, t: String, v: LocalDate) => Fpe.maskDate(min, max, t, v, fpeKey))
      },
      udfFn("unmask_fpe_date", "unmask_fpe_date(min, max, tweak, value) - exact inverse of mask_fpe_date") {
        udf((min: LocalDate, max: LocalDate, t: String, v: LocalDate) => Fpe.maskDate(min, max, t, v, fpeKey, forward = false))
      },

      colFn("graft_dot", "graft_dot(array<float>, array<float>) - embedding dot product", 2) {
        case Seq(a, b) => graft.plans.VectorExpressions.dot(a, b)
      },
      colFn("graft_simhash64", "graft_simhash64(array<string>) - 64-bit SimHash of a token array", 1) {
        case Seq(t) => graft.plans.VectorExpressions.simhash64(t)
      },
      colFn("graft_quality", "graft_quality(text) - [0,100] curation quality score", 1) {
        case Seq(t) => graft.operators.TextAnalysis.qualityScore(t)
      },
      colFn("graft_lang", "graft_lang(text) - predicted language code (en/de/fr/es/zh)", 1) {
        case Seq(t) => graft.operators.TextAnalysis.languageId(t)
      },
      colFn("graft_langid",
        "graft_langid(text) - Cavnar-Trenkle n-gram-profile language code (17 languages)", 1) {
        case Seq(t) => graft.operators.LangId.langid(t)
      },
      colFn("graft_fingerprint", "graft_fingerprint(text) - canonical-content xxhash64", 1) {
        case Seq(t) => graft.operators.TextAnalysis.fingerprint(t)
      },
      colFn("graft_url_host", "graft_url_host(url) - lowercased host, port/userinfo/path stripped", 1) {
        case Seq(u) => graft.plans.UrlExpressions.urlHost(u)
      },
      colFn("graft_url_domain",
        "graft_url_domain(url) - registrable domain under public-suffix rules (null for IPs/single labels)", 1) {
        case Seq(u) => graft.plans.UrlExpressions.urlDomain(u)
      },
      colFn("graft_url_canonical",
        "graft_url_canonical(url) - canonical URL (case/port/fragment/tracker-param/param-order normalized)", 1) {
        case Seq(u) => graft.plans.UrlExpressions.urlCanonical(u)
      },
      colFn("graft_hash_bucket",
        "graft_hash_bucket(id) - deterministic 32-bit sample hash; WHERE graft_hash_bucket(id) < cutoff", 1) {
        case Seq(id) => graft.operators.Sampling.idHash(id)
      },
      colFn("graft_max_abs", "graft_max_abs(array<float>) - max absolute element", 1) {
        case Seq(v) => graft.plans.QuantExpressions.maxAbs(v)
      },
      colFn("graft_quantize_int8", "graft_quantize_int8(array<float>, scale) - symmetric int8 quantization", 2) {
        case Seq(v, s) => graft.plans.QuantExpressions.quantizeInt8(v, s)
      },
      colFn("graft_dequant_max_error",
        "graft_dequant_max_error(array<float>, array<int>, scale) - max reconstruction error", 3) {
        case Seq(v, q, s) => graft.plans.QuantExpressions.dequantMaxError(v, q, s)
      },
      colFn("graft_redact", "graft_redact(text) - scrub email/CCN/SSN/phone/IPv4 PII from free text", 1) {
        case Seq(t) => graft.operators.Redaction.redact(t)
      },
      colFn("graft_redaction_count",
        "graft_redaction_count(text) - how many redactions graft_redact(text) performs", 1) {
        case Seq(t) => graft.operators.Redaction.redactionCount(t)
      },
      colFn("graft_normalize",
        "graft_normalize(text) - lowercase, control chars + whitespace runs to single spaces, trim", 1) {
        case Seq(t) => graft.operators.TextAnalysis.normalize(t)
      },
      colFn("graft_normalize_nopunct", "graft_normalize_nopunct(text) - graft_normalize plus punctuation stripped", 1) {
        case Seq(t) => graft.operators.TextAnalysis.normalize(t, stripPunct = true)
      },
      colFn("graft_tokens", "graft_tokens(text) - whitespace tokens of the lowercased text", 1) {
        case Seq(t) => graft.operators.TextAnalysis.tokens(t)
      },
      exprFn("graft_epoch_key",
        "graft_epoch_key(id, seed) - deterministic epoch-shuffle order key; ORDER BY graft_epoch_key(id, 7)", 2) {
        case Seq(id, seed) =>
          val s = literal(seed, "graft_epoch_key seed") match {
            case v: Long => v
            case v: Int => v.toLong
            case v => throw new IllegalArgumentException(s"graft_epoch_key seed must be an integer literal, got $v")
          }
          GraftBridge.sqlExpression(graft.operators.Shuffling.epochKey(GraftBridge.column(id), s))
      },
      exprFn("graft_zorder2", "graft_zorder2(x, y, bits) - Morton interleave of the low `bits` bits", 3) {
        case Seq(x, y, bits) => graft.plans.ZOrder2(x, y, litInt(bits, "bits"))
      },
      exprFn("graft_top_k",
        "graft_top_k(score, id, k) - aggregate: top-k (id, score) pairs by (score DESC, id ASC)", 3) {
        case Seq(score, id, k) => graft.plans.TopKByScore(score, id, litInt(k, "k"))
      },
      // the rest of the sketch-aggregate family, same literal-parameter
      // discipline: SQL users get the mergeable quantile sketches the
      // Column API already has
      exprFn("graft_bottom_k",
        "graft_bottom_k(key, value, k) - aggregate: bottom-k (key, value) bigint pairs " +
          "by (key ASC, value ASC); the portable quantile-sketch state", 3) {
        case Seq(key, value, k) => graft.plans.BottomKLongPairs(key, value, litInt(k, "k"))
      },
      exprFn("graft_kll_sketch",
        "graft_kll_sketch(value, capacity) - aggregate: KLL quantile sketch state " +
          "array<struct<level:int,v:bigint>> (Karnin-Lang-Liberty 2016)", 2) {
        case Seq(value, capacity) => graft.plans.KllSketchAgg(value, litInt(capacity, "capacity"))
      },
      exprFn("graft_gram_matrix",
        "graft_gram_matrix(qvec, d) - aggregate: exact integer second-moment state " +
          "[n, sums(d), upper-tri products(d(d+1)/2)] over array<bigint> quantized vectors", 2) {
        case Seq(qvec, d) => graft.plans.GramMatrixAgg(qvec, litInt(d, "d"))
      })
  }
}
