"""The stage library: Lucille's per-document enrichment stages re-expressed
as declarative DataFrame column transformations (SURVEY.md §2.3-§2.4).

Every stage cites the reference implementation it matches. Stages are pure
``DataFrame -> DataFrame`` functions built from ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen'd); Python appears only in the explicitly
vectorized pandas-UDF stages (RemoveDiacritics). Conditional execution uses
``F.when(guard, new).otherwise(old)`` per conditions.py.

Multi-valued fields are ArrayType columns; ``update_mode`` follows
core/UpdateMode.java (OVERWRITE / APPEND / SKIP).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Sequence

import pandas

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from lucille_spark.pipeline.conditions import (
    CHILDREN, DROPPED, SKIPPED, Condition, guard_column,
)
from lucille_spark.session import arrow_frame

STAGES: Dict[str, type] = {}


def register_stage(cls):
    STAGES[cls.__name__] = cls
    return cls


@dataclass
class Stage:
    conditions: Optional[List[Condition]] = None

    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _has_guard(self, df: DataFrame) -> bool:
        return bool(self.conditions) or DROPPED in df.columns \
            or SKIPPED in df.columns

    # helper: conditionally set a column. Note: a *conditional* stage must be
    # type-preserving (when/otherwise needs both branches the same type);
    # unconditional stages may change the column type freely.
    def _set(self, df: DataFrame, dest: str, value: Column) -> DataFrame:
        if not self._has_guard(df):
            return df.withColumn(dest, value)
        guard = guard_column(df, self.conditions)
        if dest in df.columns:
            return df.withColumn(dest, F.when(guard, value).otherwise(F.col(dest)))
        return df.withColumn(dest, F.when(guard, value))

    def _update(self, df: DataFrame, dest: str, value: Column,
                update_mode: str = "overwrite") -> DataFrame:
        """core/UpdateMode.java semantics on (possibly multi-valued) fields:
        OVERWRITE replaces, SKIP keeps existing, APPEND promotes to array and
        appends (duplicates kept, like Document.addToField)."""
        if dest not in df.columns or update_mode == "overwrite":
            return self._set(df, dest, value)
        if update_mode == "skip":
            return df.withColumn(
                dest, F.when(F.col(dest).isNull(), value).otherwise(F.col(dest)))
        if update_mode == "append":
            dtype = dict(df.dtypes).get(dest, "")
            base = (F.col(dest) if dtype.startswith("array")
                    else F.array(F.col(dest)))
            return df.withColumn(
                dest,
                F.when(F.col(dest).isNull(), F.array(value))
                .otherwise(F.concat(base, F.array(value))))
        raise ValueError(f"unknown update_mode {update_mode}")


# ---------------------------------------------------------------- field ops

@register_stage
@dataclass
class CopyFields(Stage):
    """stage/CopyFields.java:1-25 — copy source fields to destinations."""
    mapping: Dict[str, str] = dc_field(default_factory=dict)
    update_mode: str = "overwrite"

    def apply(self, df):
        for src, dest in self.mapping.items():
            df = self._update(df, dest, F.col(src), self.update_mode)
        return df


@register_stage
@dataclass
class RenameFields(Stage):
    """stage/RenameFields.java:1-75 — rename fields."""
    mapping: Dict[str, str] = dc_field(default_factory=dict)

    def apply(self, df):
        for src, dest in self.mapping.items():
            df = df.withColumnRenamed(src, dest)
        return df


@register_stage
@dataclass
class DeleteFields(Stage):
    """stage/DeleteFields.java:1-40 — drop listed fields."""
    fields: Sequence[str] = ()

    def apply(self, df):
        return df.drop(*[f for f in self.fields if f in df.columns])


@register_stage
@dataclass
class Concatenate(Stage):
    """stage/Concatenate.java:1-20 — format-string {field} substitution."""
    dest: str = "concatenated"
    format_string: str = ""
    default_inputs: Dict[str, str] = dc_field(default_factory=dict)

    def apply(self, df):
        import re

        parts: List[Column] = []
        pos = 0
        for m in re.finditer(r"\{([^}]+)\}", self.format_string):
            if m.start() > pos:
                parts.append(F.lit(self.format_string[pos:m.start()]))
            name = m.group(1)
            if name in df.columns:
                col = F.col(name).cast("string")
                if name in self.default_inputs:
                    col = F.coalesce(col, F.lit(self.default_inputs[name]))
            else:
                col = F.lit(self.default_inputs.get(name, ""))
            parts.append(col)
            pos = m.end()
        if pos < len(self.format_string):
            parts.append(F.lit(self.format_string[pos:]))
        return self._set(df, self.dest, F.concat(*parts))


@register_stage
@dataclass
class SetStaticValues(Stage):
    """stage/SetStaticValues.java:1-14 — set literal values."""
    values: Dict[str, object] = dc_field(default_factory=dict)

    def apply(self, df):
        for dest, v in self.values.items():
            df = self._set(df, dest, F.lit(v))
        return df


@register_stage
@dataclass
class SplitFieldValues(Stage):
    """stage/SplitFieldValues.java:1-12 — split on delimiter, optional trim."""
    fields: Sequence[str] = ()
    delimiter: str = ","
    trim: bool = True

    def apply(self, df):
        import re

        pat = re.escape(self.delimiter)
        for f_name in self.fields:
            col = F.split(F.col(f_name), pat)
            if self.trim:
                col = F.transform(col, lambda x: F.trim(x))
            df = self._set(df, f_name, col)
        return df


@register_stage
@dataclass
class TrimWhitespace(Stage):
    """stage/TrimWhitespace.java:1-9."""
    fields: Sequence[str] = ()

    def apply(self, df):
        for f_name in self.fields:
            df = self._set(df, f_name, F.trim(F.col(f_name)))
        return df


@register_stage
@dataclass
class TruncateField(Stage):
    """stage/TruncateField.java:1-16 — substring to max_size."""
    source: str = ""
    dest: Optional[str] = None
    max_size: int = 100

    def apply(self, df):
        return self._set(df, self.dest or self.source,
                         F.substring(F.col(self.source), 1, self.max_size))


@register_stage
@dataclass
class NormalizeText(Stage):
    """stage/NormalizeText.java:1-30,79-91 — lowercase/uppercase/title/sentence."""
    source: str = ""
    dest: Optional[str] = None
    mode: str = "lowercase"

    def apply(self, df):
        col = F.col(self.source)
        if self.mode == "lowercase":
            out = F.lower(col)
        elif self.mode == "uppercase":
            out = F.upper(col)
        elif self.mode == "title_case":
            out = F.initcap(col)
        elif self.mode == "sentence_case":
            out = F.concat(F.upper(F.substring(col, 1, 1)),
                           F.lower(F.expr(f"substring({self.source}, 2)")))
        else:
            raise ValueError(self.mode)
        return self._set(df, self.dest or self.source, out)


@register_stage
@dataclass
class RemoveDiacritics(Stage):
    """stage/RemoveDiacritics.java:1-11 — NFD accent strip (pandas UDF,
    Arrow-vectorized; the one stage that genuinely needs Python)."""
    source: str = ""
    dest: Optional[str] = None

    def apply(self, df):
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def strip_accents(s: pandas.Series) -> pandas.Series:
            import unicodedata

            return s.map(lambda x: None if x is None else "".join(
                c for c in unicodedata.normalize("NFD", x)
                if not unicodedata.combining(c)))

        return self._set(df, self.dest or self.source,
                         strip_accents(F.col(self.source)))


@register_stage
@dataclass
class ApplyRegex(Stage):
    """stage/ApplyRegex.java:1-35 — regex extract (group 1) src→dest."""
    source: str = ""
    dest: str = ""
    regex: str = ""

    def apply(self, df):
        return self._set(df, self.dest,
                         F.regexp_extract(F.col(self.source), self.regex, 1))


@register_stage
@dataclass
class ReplacePatterns(Stage):
    """stage/ReplacePatterns.java:1-40 — regex replace list."""
    fields: Sequence[str] = ()
    patterns: Sequence[str] = ()
    replacement: str = ""

    def apply(self, df):
        for f_name in self.fields:
            col = F.col(f_name)
            for p in self.patterns:
                col = F.regexp_replace(col, p, self.replacement)
            df = self._set(df, f_name, col)
        return df


@register_stage
@dataclass
class ExtractFirstCharacter(Stage):
    """stage/ExtractFirstCharacter.java:1-13 — first char or 'nonalpha'."""
    source: str = ""
    dest: str = ""

    def apply(self, df):
        first = F.substring(F.col(self.source), 1, 1)
        return self._set(df, self.dest,
                         F.when(first.rlike("[A-Za-z]"), first)
                         .otherwise(F.lit("nonalpha")))


@register_stage
@dataclass
class Length(Stage):
    """stage/Length.java:1-9 — value count of a (possibly array) field."""
    source: str = ""
    dest: str = ""

    def apply(self, df):
        dtype = dict(df.dtypes).get(self.source, "string")
        if dtype.startswith("array"):
            out = F.size(F.col(self.source))
        else:
            out = F.when(F.col(self.source).isNull(), 0).otherwise(1)
        return self._set(df, self.dest, out.cast("int"))


@register_stage
@dataclass
class ComputeFieldSize(Stage):
    """stage/ComputeFieldSize.java:1-40 — byte size of a binary field."""
    source: str = ""
    dest: str = ""

    def apply(self, df):
        return self._set(df, self.dest,
                         F.length(F.col(self.source)).cast("int"))


@register_stage
@dataclass
class Base64Decode(Stage):
    """stage/Base64Decode.java:1-10."""
    source: str = ""
    dest: str = ""

    def apply(self, df):
        return self._set(df, self.dest, F.unbase64(F.col(self.source)))


@register_stage
@dataclass
class CreateStaticTeaser(Stage):
    """stage/CreateStaticTeaser.java:1-18 — prefix teaser at word boundary."""
    source: str = ""
    dest: str = ""
    max_length: int = 100

    def apply(self, df):
        pat = "^.{0,%d}\\b" % self.max_length
        teaser = F.regexp_extract(F.col(self.source), pat, 0)
        return self._set(df, self.dest, F.rtrim(teaser))


@register_stage
@dataclass
class Timestamp(Stage):
    """stage/Timestamp.java:1-9 — current timestamp into dest."""
    dest: str = "timestamp"

    def apply(self, df):
        return self._set(df, self.dest, F.current_timestamp())


@register_stage
@dataclass
class RemoveDuplicateValues(Stage):
    """stage/RemoveDuplicateValues.java:1-9 — dedup multivalued field."""
    fields: Sequence[str] = ()

    def apply(self, df):
        for f_name in self.fields:
            df = self._set(df, f_name, F.array_distinct(F.col(f_name)))
        return df


@register_stage
@dataclass
class DropValues(Stage):
    """stage/DropValues.java:1-11 — remove exact values from arrays."""
    fields: Sequence[str] = ()
    values: Sequence[str] = ()

    def apply(self, df):
        lit_vals = F.array(*[F.lit(v) for v in self.values])
        for f_name in self.fields:
            df = self._set(df, f_name, F.array_except(F.col(f_name), lit_vals))
        return df


@register_stage
@dataclass
class HashFieldValueToBucket(Stage):
    """stage/HashFieldValueToBucket.java:1-13 — stable hash → bucket label."""
    source: str = ""
    dest: str = ""
    buckets: Sequence[str] = ()

    def apply(self, df):
        n = len(self.buckets)
        idx = F.pmod(F.crc32(F.col(self.source).cast("binary")), F.lit(n))
        labels = F.array(*[F.lit(b) for b in self.buckets])
        return self._set(df, self.dest,
                         F.element_at(labels, (idx + 1).cast("int")))


# ------------------------------------------------------------ date / numeric

@register_stage
@dataclass
class ParseDate(Stage):
    """stage/ParseDate.java:1-40 + dateformatters/* — multi-format parse.

    Tries each pattern with to_timestamp, coalescing the first success;
    'epoch' handles unix-seconds strings (dateformatters/*.java)."""
    fields: Sequence[str] = ()
    formats: Sequence[str] = ("yyyy-MM-dd", "MM/dd/yyyy", "MMMM d, yyyy")
    dest_suffix: str = ""

    def apply(self, df):
        for f_name in self.fields:
            attempts = []
            for fmt in self.formats:
                if fmt == "epoch":
                    attempts.append(
                        F.when(F.col(f_name).rlike("^[0-9]{9,11}$"),
                               F.to_timestamp(F.from_unixtime(
                                   F.col(f_name).cast("long")))))
                else:
                    attempts.append(F.try_to_timestamp(F.col(f_name),
                                                       F.lit(fmt)))
            df = self._set(df, f_name + self.dest_suffix,
                           F.coalesce(*attempts))
        return df


@register_stage
@dataclass
class ParseFloats(Stage):
    """stage/ParseFloats.java:1-10 — JSON float-array string → array<float>."""
    source: str = ""
    dest: Optional[str] = None

    def apply(self, df):
        return self._set(df, self.dest or self.source,
                         F.from_json(F.col(self.source), "array<float>"))


# ----------------------------------------------------- semi-structured paths

@register_stage
@dataclass
class ParseJson(Stage):
    """stage/ParseJson.java:1-20 — JSONPath-ish extraction to fields."""
    source: str = ""
    mapping: Dict[str, str] = dc_field(default_factory=dict)  # dest -> $.path

    def apply(self, df):
        for dest, path in self.mapping.items():
            df = self._set(df, dest, F.get_json_object(F.col(self.source), path))
        return df


@register_stage
@dataclass
class XPathExtractor(Stage):
    """stage/XPathExtractor.java:1-10 — XPath over an XML field (built-in)."""
    source: str = ""
    mapping: Dict[str, str] = dc_field(default_factory=dict)  # dest -> xpath

    def apply(self, df):
        for dest, xp in self.mapping.items():
            df = self._set(df, dest, F.xpath_string(F.col(self.source),
                                                    F.lit(xp)))
        return df


@register_stage
@dataclass
class ParseFilePath(Stage):
    """stage/ParseFilePath.java:1-22 — filename/folder/extension/hierarchy."""
    source: str = "file_path"
    include_hierarchy: bool = True

    def apply(self, df):
        col = F.col(self.source)
        df = self._set(df, "filename", F.regexp_extract(col, r"([^/\\]+)$", 1))
        df = self._set(df, "folder", F.regexp_extract(col, r"^(.*)[/\\][^/\\]*$", 1))
        df = self._set(df, "file_extension",
                       F.lower(F.regexp_extract(col, r"\.([^.\\/]+)$", 1)))
        if self.include_hierarchy:
            df = self._set(df, "file_paths", F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(F.split(col, "[/\\\\]"))),
                    lambda i: F.array_join(
                        F.slice(F.split(col, "[/\\\\]"), 1, i), "/")),
                lambda x: x != F.lit("")))
        return df


# ----------------------------------------------------- dictionary / matching

@register_stage
@dataclass
class DictionaryLookup(Stage):
    """stage/DictionaryLookup.java:1-35 — exact term lookup with payloads.

    Small dictionaries become a broadcast map expression. Above
    ``join_threshold`` entries the lookup switches to a broadcast hash
    JOIN against a dictionary DataFrame (plan size O(1) in |dict|, the
    ExtractEntitiesFST-scale story): scalar columns join directly; array
    columns posexplode, join, and reassemble in element order, keyed by
    ``id_col`` when present (ids must be UNIQUE — the reference's Document
    contract; null-id rows get null/empty results) or by a surrogate over
    a lazily checkpointed base when absent. ``set_only`` (the reference's
    setOnly boolean) stays on
    the expression path — its literal is ONE flat array node, and its
    three-valued null semantics (false beats null beats true) don't
    survive an explode faithfully."""
    source: str = ""
    dest: str = ""
    dictionary: Dict[str, str] = dc_field(default_factory=dict)
    set_only: bool = False
    use_join: Optional[bool] = None
    join_threshold: int = 1024
    id_col: str = "id"

    def apply(self, df):
        dtype = dict(df.dtypes).get(self.source, "string")
        is_arr = dtype.startswith("array")
        join_mode = self.use_join
        if join_mode is None:
            join_mode = (not self.set_only
                         and len(self.dictionary) > self.join_threshold)
        if join_mode and not self.set_only:
            return self._apply_join(df, is_arr)
        col = F.col(self.source)
        keys = F.array(*[F.lit(k) for k in self.dictionary])
        kv = F.create_map(*[F.lit(x) for pair in self.dictionary.items()
                            for x in pair])
        if self.set_only:
            src_arr = col if is_arr else F.array(col)
            return self._set(df, self.dest,
                             F.forall(src_arr, lambda x: F.array_contains(keys, x)))
        if is_arr:
            out = F.filter(F.transform(col, lambda x: kv[x]),
                           lambda x: x.isNotNull())
        else:
            out = kv[col]
        return self._set(df, self.dest, out)

    def _apply_join(self, df, is_arr: bool):
        spark = df.sparkSession
        ddf = arrow_frame(spark, list(self.dictionary.items()),
                          "_dl_term string, _dl_payload string")
        if not is_arr:
            res = df.join(F.broadcast(ddf),
                          F.col(self.source) == F.col("_dl_term"), "left")
            return self._set(res, self.dest, F.col("_dl_payload")) \
                .drop("_dl_term", "_dl_payload")
        # rejoin key (ADVICE r3): id_col when present — ids must be
        # unique (the reference's Document contract); otherwise a
        # surrogate over a lazily checkpointed base (a nondeterministic
        # surrogate recomputed per subtree can diverge when the upstream
        # plan contains joins)
        if self.id_col in df.columns:
            base, key = df, self.id_col
        else:
            base = df.withColumn(
                "_dl_sid", F.monotonically_increasing_id()
            ).localCheckpoint(eager=False)
            key = "_dl_sid"
        ex = base.select(F.col(key).alias("_dl_id"),
                         F.posexplode(F.col(self.source)).alias("_p", "_dl_term"))
        j = ex.join(F.broadcast(ddf), "_dl_term")
        agg = (j.groupBy("_dl_id")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("_p", "_dl_payload"))),
                   lambda s: s["_dl_payload"]).alias("_dl_out")))
        res = base.join(agg.withColumnRenamed("_dl_id", key), key, "left")
        # expr-mode parity: null source -> null; no matches -> empty array
        out = F.when(F.col(self.source).isNull(),
                     F.lit(None).cast("array<string>")).otherwise(
            F.coalesce(F.col("_dl_out"), F.array().cast("array<string>")))
        res = self._set(res, self.dest, out).drop("_dl_out")
        return res.drop("_dl_sid") if key == "_dl_sid" else res


@register_stage
@dataclass
class Contains(Stage):
    """stage/Contains.java:1-15 — whole-word any-match tagging (the
    reference builds an Aho-Corasick trie; an alternation rlike compiles to
    the same DFA inside the JVM regex engine for moderate dictionaries).

    Above ``join_threshold`` values the stage delegates to the
    ExtractEntities broadcast-join path per field (token-equality
    whole-word matching, case-preserving like the rlike) — one exploded
    join instead of a megabyte alternation pattern; needs ``id_col``.

    AUTO mode only switches to the join when every value is a single
    ``[A-Za-z0-9_]+`` token, where token-equality and ``\\b``-regex
    matching provably coincide (ADVICE r3: values like ``c++`` or
    ``foo bar`` tokenize lossily / match token sequences the regex would
    not, so crossing the size threshold must never change results — such
    dictionaries stay on the rlike path whatever their size). An explicit
    ``use_join=True`` overrides the guard and accepts token semantics."""
    fields: Sequence[str] = ()
    values: Sequence[str] = ()
    dest: str = "contains"
    output_value: str = "match"
    use_join: Optional[bool] = None
    join_threshold: int = 256
    id_col: str = "id"

    def apply(self, df):
        import re as _re

        join_mode = self.use_join
        if join_mode is None:
            join_safe = all(_re.fullmatch(r"[A-Za-z0-9_]+", v)
                            for v in self.values)
            join_mode = (join_safe
                         and len(self.values) > self.join_threshold
                         and self.id_col in df.columns)
        if join_mode:
            flags = []
            for i, f_name in enumerate(self.fields):
                tmp = f"_ct_hits_{i}"
                st = ExtractEntities(
                    source=f_name, dest=tmp,
                    dictionary={v: self.output_value for v in self.values},
                    ignore_case=False, stop_on_hit=True,
                    use_join=True, id_col=self.id_col)
                df = st.apply(df)
                flag = f"_ct_flag_{i}"
                df = df.withColumn(flag, F.size(F.col(tmp)) > 0).drop(tmp)
                flags.append(flag)
            pred = None
            for flag in flags:
                c = F.col(flag)
                pred = c if pred is None else (pred | c)
            return self._set(df, self.dest,
                             F.when(pred, F.lit(self.output_value))
                             ).drop(*flags)
        pat = r"\b(" + "|".join(_re.escape(v) for v in self.values) + r")\b"
        pred = None
        for f_name in self.fields:
            c = F.col(f_name).rlike(pat)
            pred = c if pred is None else (pred | c)
        return self._set(df, self.dest,
                         F.when(pred, F.lit(self.output_value)))


def _lang_profiles():
    from lucille_spark.ml.textstats import LANG_PROFILES

    return LANG_PROFILES


@register_stage
@dataclass
class DetectLanguage(Stage):
    """stage/DetectLanguage.java:1-25,139-172 — stopword-profile language
    heuristic (the reference uses cybozu langdetect; same output contract:
    language code + confidence). Full option surface per the reference:

    - source: one field name or a LIST of fields — values are concatenated
      in order before detection (DetectLanguage.java:140-153)
    - min_length (ref minLength, default 50): shorter inputs are skipped —
      lang/confidence stay null (DetectLanguage.java:155-157)
    - max_length (ref maxLength, default 10000): detection runs on the
      input truncated to this many chars (DetectLanguage.java:160)
    - min_probability (ref minProbability, default 0.95 there; our
      heuristic confidence = profile-hit ratio lives on a different scale,
      so the default here is 0.0 = off): results below the threshold NULL
      the dest fields (deviation from the reference, which leaves the
      document untouched — this stage always writes lang_dest/conf_dest,
      with null on any skip, so the output schema is stable)
    - confidence output is floored to 2 decimals like the reference's
      Math.floor(prob*100)/100 (DetectLanguage.java:165)

    Non-Latin scripts (zh/ja/ko/ar/ru/he/el) are detected from Unicode
    script-block character counts BEFORE the stopword profiles (which are
    ASCII-only and would otherwise see zero tokens): any script hit wins,
    ja-vs-zh resolved by kana presence (ml/textstats.SCRIPT_RANGES), and
    script confidence = floor(script_chars / non-space_chars * 100)/100.
    The reference's cybozu langdetect reaches ~50 languages with n-gram
    Bayesian profiles; this covers 28 Latin stopword profiles + 24 script
    blocks + 3 marker-disambiguated variants (uk/fa/ur) = 55 languages,
    deterministically (documented deviation, COVERAGE.md).
    """
    source: Sequence[str] | str = ""
    lang_dest: str = "language"
    conf_dest: str = "language_confidence"
    min_length: int = 50
    max_length: int = 10_000
    min_probability: float = 0.0
    # defaults to ml/textstats.LANG_PROFILES (10 languages, ASCII-only to
    # match the analyzer's token alphabet) — one profile source for the
    # stage and the gated language_scores op
    profiles: Dict[str, Sequence[str]] = dc_field(
        default_factory=lambda: dict(_lang_profiles()))

    def apply(self, df):
        from lucille_spark.analysis import tokenize_col

        sources = ([self.source] if isinstance(self.source, str)
                   else list(self.source))
        text = F.concat_ws("", *[F.coalesce(F.col(s).cast("string"),
                                            F.lit("")) for s in sources])
        clipped = F.substring(text, 1, self.max_length)
        toks = F.array_distinct(tokenize_col(clipped))
        hits = []
        for lang, words in self.profiles.items():
            arr = F.array(*[F.lit(w) for w in words])
            hits.append(F.struct(
                F.size(F.array_intersect(toks, arr)).alias("hits"),
                F.lit(lang).alias("lang"),
                F.lit(len(words)).alias("n")))
        best = F.array_max(F.array(*hits))
        conf = F.floor(best["hits"] / best["n"] * 100) / 100
        # non-Latin script blocks decide first (see class docstring);
        # tie-break = hits desc, lang asc, same rule as language_scores
        from lucille_spark.ml.textstats import script_hit_structs

        sc = F.element_at(
            F.array_sort(
                F.array(*script_hit_structs(clipped)), lambda a, b:
                F.when(a["hits"] > b["hits"], -1)
                .when(a["hits"] < b["hits"], 1)
                .when(a["lang"] < b["lang"], -1)
                .when(a["lang"] > b["lang"], 1).otherwise(0)), 1)
        n_chars = F.length(F.regexp_replace(clipped, r"\s", ""))
        # confidence from the REAL in-script char count (sc["chars"]),
        # not the ranking key — marker/kana bonuses would push the ratio
        # past 1.0 for uk/fa/ur text
        sc_conf = F.floor(sc["chars"] / n_chars * 100) / 100
        script_hit = sc["hits"] > 0
        pick_lang = F.when(script_hit, sc["lang"]).otherwise(best["lang"])
        pick_conf = F.when(script_hit, sc_conf).otherwise(conf)
        pick_hits = F.when(script_hit, sc["hits"]).otherwise(best["hits"])
        ok = ((F.length(text) >= self.min_length)
              & (pick_hits > 0)
              & (pick_conf >= self.min_probability))
        df = self._set(df, self.lang_dest, F.when(ok, pick_lang))
        return self._set(df, self.conf_dest, F.when(ok, pick_conf))


# -------------------------------------------------------- drop/skip control

@register_stage
@dataclass
class DropDocument(Stage):
    """stage/DropDocument.java — mark dropped; terminal filter removes."""
    def apply(self, df):
        guard = guard_column(df, self.conditions)
        prev = F.col(DROPPED) if DROPPED in df.columns else F.lit(False)
        return df.withColumn(DROPPED, prev | guard)


@register_stage
@dataclass
class SkipDocument(Stage):
    """stage/SkipDocument.java — skip later stages, still indexed."""
    def apply(self, df):
        guard = guard_column(df, self.conditions)
        prev = F.col(SKIPPED) if SKIPPED in df.columns else F.lit(False)
        return df.withColumn(SKIPPED, prev | guard)


@register_stage
@dataclass
class RemoveEmptyFields(Stage):
    """stage/RemoveEmptyFields.java — null out empty strings/arrays."""
    fields: Sequence[str] = ()

    def apply(self, df):
        for f_name in self.fields:
            dtype = dict(df.dtypes).get(f_name, "string")
            if dtype.startswith("array"):
                cond = F.size(F.col(f_name)) > 0
            else:
                cond = F.length(F.col(f_name)) > 0
            df = df.withColumn(f_name, F.when(cond, F.col(f_name)))
        return df


# ------------------------------------------------------- children / chunking

CHUNK_CHILD_SCHEMA = ("array<struct<id:string,chunk_text:string,offset:int,"
                      "length:int,chunk_number:int,total_chunks:int>>")


@register_stage
@dataclass
class ChunkText(Stage):
    """stage/ChunkText.java:130-420 — split text into chunks emitted as
    attached children with id=parent-chunkN, offset/length/chunk_number/
    total_chunks (javadoc contract at ChunkText.java:172-179).

    Chunk modes: 'fixed' (N tokens per chunk), 'fixed_chars' (N characters,
    the reference's FIXED/splitBySize), 'paragraph' (consecutive line
    breaks), 'sentence' ([.!?] boundaries, abbreviation-aware), 'custom'
    (separator_regex).

    Sentence mode approximates the reference's OpenNLP SentenceDetector
    (ChunkText.java:137-206) with non-breaking rules compiled into the one
    split regex (still pure JVM, no model): no break after a listed
    abbreviation ("Dr.", "e.g.", "No." — see ``abbreviations``), after a
    single-capital initial ("J. K. Rowling"), or inside decimals (no
    whitespace follows the dot). Deviation documented in COVERAGE.md:
    abbreviation-list coverage, not a trained model. Known false
    negative of the initial guard: ANY word ending in a standalone
    capital suppresses the break ("low on vitamin D. Next..." never
    splits) — locally indistinguishable from an initial without a
    trained model; the two sentences merge rather than mis-split.

    Post-split pipeline, applied in the reference's exact order
    (ChunkText.java:199-228):
      clean -> pre_merge_min (filterByAppend :298-330) ->
      pre_merge_max (truncateRest :259-266) ->
      merge_k+overlap_k (mergeAndOverlapChunks :231-254) OR
      merge_k (mergeChunks :332-355) then overlap_pct (overlapChunks
      :357-388) -> char_limit (truncateRest).
    All of it is JVM column expressions (transform/aggregate/slice) —
    the sequential filterByAppend fold is an F.aggregate, so no Python
    runs per document."""
    source: str = "text"
    id_col: str = "id"
    mode: str = "fixed"
    chunk_size: int = 100         # tokens (fixed) or chars (fixed_chars)
    separator_regex: str = r"\n\n+"
    clean_chunks: bool = False
    pre_merge_min: int = 0        # preMergeMinChunkLen (chars)
    pre_merge_max: int = 0        # preMergeMaxChunkLen (chars)
    merge_k: int = 1              # chunksToMerge
    overlap_k: Optional[int] = None   # chunksToOverlap (with merge_k)
    overlap_pct: int = 0          # overlapPercentage
    char_limit: int = 0           # characterLimit
    # sentence-mode non-breaking abbreviations (honorifics, latinisms,
    # months, reference markers); entries are matched case-sensitively
    # right before the period. Dots inside entries are literal ("e.g").
    abbreviations: Sequence[str] = (
        "Dr", "Mr", "Mrs", "Ms", "Prof", "Sr", "Jr", "St", "Gen", "Rep",
        "Sen", "Rev", "Hon", "Capt", "Lt", "Col", "Sgt",
        "vs", "etc", "approx", "dept", "est", "min", "max",
        "e.g", "i.e", "cf", "al", "Ph.D", "M.D", "B.A", "M.A", "D.C",
        "U.S", "U.K", "No", "Fig", "fig", "Eq", "eq", "Vol", "vol",
        "Ch", "ch", "Sec", "sec", "Inc", "Ltd", "Co", "Corp",
        "Jan", "Feb", "Mar", "Apr", "Jun", "Jul", "Aug", "Sep", "Sept",
        "Oct", "Nov", "Dec", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat",
        "Sun")

    def __post_init__(self):
        if self.merge_k < 1:
            raise ValueError("merge_k must be >= 1")
        if self.overlap_k is not None and self.overlap_pct > 0:
            raise ValueError("overlap_k and overlap_pct are exclusive")
        if self.overlap_k is not None and self.overlap_k >= self.merge_k:
            raise ValueError("overlap_k must be < merge_k")

    def _split(self, toks_col=None):
        col = F.col(self.source)
        if self.mode == "fixed":
            # the caller materializes the token split into a temp column
            # (toks_col): higher-order functions are interpreted, so an
            # inline split() subtree would re-tokenize the WHOLE document
            # once per chunk — O(n_chunks x doc_len)
            toks = toks_col if toks_col is not None else F.split(col, r"\s+")
            n = F.ceil(F.size(toks) / F.lit(self.chunk_size)).cast("int")
            return F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * self.chunk_size + 1, self.chunk_size),
                    " "))
        if self.mode == "fixed_chars":
            n = F.ceil(F.length(col) / F.lit(self.chunk_size)).cast("int")
            # empty input -> numOfChunks=0 -> NO children (splitBySize,
            # ChunkText.java:259-266); an unguarded sequence(0, -1) would
            # descend and emit two empty chunks (ADVICE r2)
            return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), n - 1),
                    lambda i: F.substring(col, i * self.chunk_size + 1,
                                          self.chunk_size)))
        if self.mode == "paragraph":
            pat = r"\s*(?>\R)\s*(?>\R)\s*"   # ChunkText.java:189
        elif self.mode == "custom":
            pat = self.separator_regex
        else:                                 # sentence
            import re as _re

            # break after [.!?]+whitespace UNLESS the period closes a
            # known abbreviation or a single-capital initial. Java regex
            # allows bounded variable-length lookbehind, so the whole
            # rule set compiles into the one split pattern (decimals need
            # no rule: no whitespace follows the dot inside a number).
            abbr = "|".join(sorted((_re.escape(a)
                                    for a in self.abbreviations),
                                   key=len, reverse=True))
            guards = r"(?<![A-Z]\.)"
            if abbr:
                guards += rf"(?<!\b(?:{abbr})\.)"
            pat = rf"(?<=[.!?]){guards}\s+"
        return F.filter(F.split(col, pat),
                        lambda x: F.trim(x) != F.lit(""))

    @staticmethod
    def _truncate(pieces, limit: int):
        return F.transform(
            pieces, lambda x: F.when(F.length(x) > limit,
                                     F.trim(F.substring(x, 1, limit)))
            .otherwise(x))

    def _filter_by_append(self, pieces, min_len: int):
        """filterByAppend as a sequential aggregate fold: accumulate chunks
        into `cur` until it reaches min_len, then flush to `done`; a
        below-min leftover is appended to the LAST flushed chunk (or stands
        alone when nothing was flushed) — ChunkText.java:298-330."""
        acc0 = F.struct(
            F.array().cast("array<string>").alias("done"),
            F.lit("").alias("cur"))

        def step(acc, x):
            cur2 = F.concat(acc["cur"], x, F.lit(" "))
            return F.when(
                F.length(cur2) < min_len,
                F.struct(acc["done"].alias("done"), cur2.alias("cur"))
            ).otherwise(
                F.struct(
                    F.concat(acc["done"],
                             F.array(F.trim(cur2))).alias("done"),
                    F.lit("").alias("cur")))

        def finish(acc):
            done, cur = acc["done"], acc["cur"]
            merged_last = F.concat(
                F.slice(done, 1, F.size(done) - 1),
                F.array(F.trim(F.concat(F.element_at(done, -1),
                                        F.lit(" "), cur))))
            return (F.when(cur == "", done)
                    .when(F.size(done) == 0, F.array(F.trim(cur)))
                    .otherwise(merged_last))

        return F.when(F.size(pieces) <= 1, pieces).otherwise(
            F.aggregate(pieces, acc0, step, finish))

    def _merge_overlap(self, pieces, merge_k: int, overlap_k: int):
        """mergeAndOverlapChunks: sliding windows of merge_k chunks at
        stride merge_k - overlap_k (ChunkText.java:231-254)."""
        step = merge_k - overlap_k
        end_index = F.size(pieces) - overlap_k
        result_size = F.floor((end_index - 1) / step).cast("int") + 1
        # 1 < size <= overlap_k -> the reference returns an EMPTY array
        # (mergeAndOverlapChunks); an unguarded sequence(0, result_size-1)
        # with result_size <= 0 descends and slice(pieces, 0, k) throws
        # INVALID_PARAMETER_VALUE.START, aborting the job (ADVICE r2)
        return (F.when(F.size(pieces) <= 1, pieces)
                .when(end_index <= 0, F.array().cast("array<string>"))
                .otherwise(F.transform(
                    F.sequence(F.lit(0), result_size - 1),
                    lambda r: F.array_join(
                        F.slice(pieces, r * step + 1, merge_k), " "))))

    def _merge(self, pieces, merge_k: int):
        result_size = F.ceil(F.size(pieces) / F.lit(merge_k)).cast("int")
        return F.when(F.size(pieces) <= 1, pieces).otherwise(
            F.transform(
                F.sequence(F.lit(0), result_size - 1),
                lambda r: F.array_join(
                    F.slice(pieces, r * merge_k + 1, merge_k), " ")))

    def _overlap_pct(self, pieces, pct: int):
        """overlapChunks: prefix/suffix context from neighbours, sized as a
        percentage of the CURRENT chunk (ChunkText.java:357-388)."""
        n = F.size(pieces)

        def one(x, i):
            oc = F.floor(F.length(x) * pct / 100).cast("int")
            prev = F.element_at(pieces, i)          # i is 0-based -> prev
            nxt = F.element_at(pieces, i + 2)
            prev_tail = F.substring(
                prev, F.greatest(F.lit(1), F.length(prev) - oc + 1), oc)
            nxt_head = F.substring(nxt, 1, oc)
            pre = F.when(i > 0, F.concat(prev_tail, F.lit(" "))) \
                .otherwise(F.lit(""))
            post = F.when(i < n - 1, F.concat(F.lit(" "), nxt_head)) \
                .otherwise(F.lit(""))
            return F.trim(F.concat(pre, x, post))

        return F.when(n <= 1, pieces).otherwise(F.transform(pieces, one))

    def apply(self, df):
        toks_tmp = None
        if self.mode == "fixed":
            toks_tmp = "_ct_toks"
            df = df.withColumn(toks_tmp,
                               F.split(F.col(self.source), r"\s+"))
            pieces = self._split(F.col(toks_tmp))
        else:
            pieces = self._split()
        if self.clean_chunks:
            pieces = F.transform(
                pieces,
                lambda x: F.trim(F.regexp_replace(x, r"\s*(?>\R)\s*", " ")))
        if self.pre_merge_min > 0:
            pieces = self._filter_by_append(pieces, self.pre_merge_min)
        if self.pre_merge_max > 0:
            pieces = self._truncate(pieces, self.pre_merge_max)
        if self.overlap_k is not None:
            pieces = self._merge_overlap(pieces, self.merge_k, self.overlap_k)
        else:
            if self.merge_k > 1:
                pieces = self._merge(pieces, self.merge_k)
            if self.overlap_pct > 0:
                pieces = self._overlap_pct(pieces, self.overlap_pct)
        if self.char_limit > 0:
            pieces = self._truncate(pieces, self.char_limit)

        # ONE aggregate fold builds the whole children array: running
        # offset (createChildrenDocsWithChunks, ChunkText.java:390-419) and
        # chunk index ride in the ACCUMULATOR, and total_chunks is stamped
        # in the finish lambda over the accumulated VALUE. This shape is
        # load-bearing: temp columns don't help (CollapseProject inlines
        # them back into the lambdas, re-evaluating an offsets array or a
        # size(pieces) PER ELEMENT — the per-chunk prefix re-aggregation
        # VERDICT r2 #8 flagged was O(n_chunks^2) for exactly that reason);
        # lambda variables are materialized values, so referencing the
        # accumulator per element is O(1).
        child_t = CHUNK_CHILD_SCHEMA[len("array<"):-1]
        acc0 = F.struct(
            F.lit(0).cast("int").alias("off"),
            F.array().cast(CHUNK_CHILD_SCHEMA).alias("out"))
        id_str = F.col(self.id_col).cast("string")

        def step(acc, x):
            idx = F.size(acc["out"])    # chunks emitted so far (O(1))
            child = F.struct(
                F.concat(id_str, F.lit("-chunk"),
                         (idx + 1).cast("string")).alias("id"),
                x.alias("chunk_text"),
                acc["off"].alias("offset"),
                F.length(x).cast("int").alias("length"),
                (idx + 1).cast("int").alias("chunk_number"),
                F.lit(0).cast("int").alias("total_chunks"))
            return F.struct(
                (acc["off"] + F.length(x)).cast("int").alias("off"),
                F.concat(acc["out"],
                         F.array(child.cast(child_t))).alias("out"))

        def finish(acc):
            out_arr = acc["out"]
            n = F.size(out_arr).cast("int")
            return F.transform(
                out_arr,
                lambda s: F.struct(
                    s["id"].alias("id"),
                    s["chunk_text"].alias("chunk_text"),
                    s["offset"].alias("offset"),
                    s["length"].alias("length"),
                    s["chunk_number"].alias("chunk_number"),
                    n.alias("total_chunks")))

        children = F.aggregate(pieces, acc0, step, finish)
        guard = guard_column(df, self.conditions)
        res = df.withColumn(
            CHILDREN, F.when(guard, children.cast(CHUNK_CHILD_SCHEMA)))
        return res.drop(toks_tmp) if toks_tmp else res


@register_stage
@dataclass
class EmitNestedChildren(Stage):
    """stage/EmitNestedChildren.java:1-13 — detach children to standalone
    rows; optionally drop parents; copy selected parent fields down."""
    drop_parents: bool = False
    copy_fields: Sequence[str] = ()

    def apply(self, df):
        child_rows = (
            df.filter(F.col(CHILDREN).isNotNull())
            .select(*[F.col(c) for c in self.copy_fields],
                    F.explode(CHILDREN).alias("_child"))
            .select(*self.copy_fields, "_child.*"))
        parents = df.drop(CHILDREN)
        if self.drop_parents:
            return child_rows
        # align schemas: parent rows get null child columns and vice versa
        for c in parents.columns:
            if c not in child_rows.columns:
                child_rows = child_rows.withColumn(c, F.lit(None))
        for c in child_rows.columns:
            if c not in parents.columns:
                parents = parents.withColumn(c, F.lit(None))
        return parents.unionByName(child_rows.select(parents.columns))


@register_stage
@dataclass
class CollapseChildrenDocuments(Stage):
    """stage/CollapseChildrenDocuments.java:1-13 — pull child fields up as
    multivalued arrays; optionally drop the children."""
    fields: Sequence[str] = ()
    drop_children: bool = True

    def apply(self, df):
        for f_name in self.fields:
            df = df.withColumn(
                f"child_{f_name}",
                F.transform(F.col(CHILDREN), lambda c: c[f_name]))
        return df.drop(CHILDREN) if self.drop_children else df


@register_stage
@dataclass
class Print(Stage):
    """stage/Print.java:1-22 — debug visibility (no-op transform)."""
    n: int = 5

    def apply(self, df):
        df.show(self.n, truncate=80)
        return df


@register_stage
@dataclass
class MatchQuery(Stage):
    """stage/MatchQuery.java:39-123 — the Lucene percolator stage: named
    boolean queries are parsed once and every document is tagged with the
    names of the queries it matches (appended to ``dest``).

    Here the parsed ASTs compile to JVM boolean Column expressions over the
    tokenized fields (arrays_overlap / array_contains / phrase windows) —
    the percolation of ALL queries happens in one codegen'd pass, no Python.
    Multi-term nodes (prefix/wildcard/range/fuzzy) need no dictionary
    expansion in the percolator: doc-level semantics is "some token of
    THIS doc matches", one ``F.exists`` over the token array.
    """
    queries: Dict[str, str] = dc_field(default_factory=dict)
    fields: Sequence[str] = ("content",)
    dest: str = "matched_queries"
    default_field: str = "content"

    def _node_pred(self, node, df):
        from lucille_spark.analysis import tokenize_col
        from lucille_spark.query.parser import (And, Fuzzy, MatchAll, Must,
                                                Not, Or, Phrase, Prefix,
                                                Term, TermRange, Wildcard)

        def toks(fld):
            if fld not in df.columns:
                return None
            return tokenize_col(F.col(fld))

        if isinstance(node, MatchAll):
            return F.lit(True)
        if isinstance(node, Term):
            t = toks(node.field)
            if t is None:
                return F.lit(False)
            # coalesce: a NULL field must read as "no match", not SQL NULL
            # (three-valued logic would otherwise poison NOT/AND above)
            return F.coalesce(F.array_contains(t, node.text), F.lit(False))
        # multi-term nodes: the index plane expands these against the term
        # DICTIONARY (expand_prefixes); the percolator has no dictionary,
        # but the equivalent doc-level semantics is "any of THIS doc's
        # tokens matches the pattern" — one F.exists over the token array,
        # fully JVM-side (no expansion set to materialize at all)
        if isinstance(node, Prefix):
            t = toks(node.field)
            if t is None:
                return F.lit(False)
            return F.coalesce(
                F.exists(t, lambda x: x.startswith(node.text)),
                F.lit(False))
        if isinstance(node, Wildcard):
            t = toks(node.field)
            if t is None:
                return F.lit(False)
            # `?` = one char, `*` = any run; everything else literal
            # (Java-regex-safe: escape, then swap the metachars back).
            # rlike is find-semantics, so anchor BOTH ends: the wildcard
            # must match the whole token ('te?t' must not hit 'xtest')
            import re as _re
            rx = "(?s)^" + _re.escape(node.pattern).replace(
                r"\*", ".*").replace(r"\?", ".") + "$"
            return F.coalesce(F.exists(t, lambda x: x.rlike(rx)),
                              F.lit(False))
        if isinstance(node, TermRange):
            t = toks(node.field)
            if t is None:
                return F.lit(False)

            def in_range(x):
                p = F.lit(True)
                if node.lower is not None:
                    lo = F.lit(node.lower)
                    p = p & ((x >= lo) if node.include_lower else (x > lo))
                if node.upper is not None:
                    hi = F.lit(node.upper)
                    p = p & ((x <= hi) if node.include_upper else (x < hi))
                return p

            return F.coalesce(F.exists(t, in_range), F.lit(False))
        if isinstance(node, Fuzzy):
            t = toks(node.field)
            if t is None:
                return F.lit(False)
            # plain Levenshtein, matching the index plane's documented
            # deviation (transpositions cost 2); JVM levenshtein()
            return F.coalesce(
                F.exists(t, lambda x: F.levenshtein(
                    x, F.lit(node.text)) <= F.lit(node.max_edits)),
                F.lit(False))
        if isinstance(node, Phrase):
            t = toks(node.field)
            if t is None:
                return F.lit(False)
            # parameterized column lambdas share analyzers.tokenize_col —
            # no SQL-string splicing (terms with quotes are safe) and no
            # duplicated tokenizer regex to keep in sync
            from lucille_spark.query.executor_df import (phrase_pred,
                                                         sloppy_phrase_pred)

            pred = (sloppy_phrase_pred(list(node.terms), node.slop, t)
                    if node.slop else phrase_pred(list(node.terms), t))
            return F.coalesce(pred, F.lit(False))
        if isinstance(node, Not):
            return ~self._node_pred(node.child, df)
        if isinstance(node, Must):
            return self._node_pred(node.child, df)
        if isinstance(node, And):
            out = None
            for c in node.children:
                p = self._node_pred(c, df)
                out = p if out is None else (out & p)
            return out
        if isinstance(node, Or):
            # Lucene occurs: MUST clauses (unary +) alone decide the
            # match when present; SHOULDs then stop constraining it;
            # MUST_NOT always excludes.
            musts = [c for c in node.children if isinstance(c, Must)]
            shoulds = [c for c in node.children
                       if not isinstance(c, (Must, Not))]
            neg = [c for c in node.children if isinstance(c, Not)]
            if musts:
                out = F.lit(True)
                for c in musts:
                    out = out & self._node_pred(c, df)
            else:
                out = F.lit(False)
                for c in shoulds:
                    out = out | self._node_pred(c, df)
            for c in neg:
                out = out & ~self._node_pred(c.child, df)
            return out
        from lucille_spark.query.parser import QueryParseError
        raise QueryParseError(
            f"MatchQuery does not support {type(node).__name__} nodes "
            f"({node!r}); supported: Term/Phrase (incl. sloppy)/Prefix/"
            f"Wildcard/TermRange/Fuzzy/MatchAll and AND/OR/NOT/+")

    def apply(self, df):
        from lucille_spark.query.parser import parse

        tags = []
        for name, q in self.queries.items():
            pred = self._node_pred(parse(q, self.default_field), df)
            tags.append(F.when(pred, F.lit(name)))
        matched = F.filter(F.array(*tags), lambda x: x.isNotNull())
        return self._set(df, self.dest, matched)


# ------------------------------------------------- generators / entity extract

def _seeded_u01(seed_col: Column, salt: int) -> Column:
    """Deterministic per-row uniform [0,1) from a stable hash of a column —
    the reference's AddRandom* stages exist to build test fixtures, which
    must be reproducible, so 'random' here is seeded by the row id
    (stage/AddRandomBoolean.java etc., SURVEY.md §2.4 generators)."""
    h = F.conv(F.substring(F.sha2(seed_col.cast("binary"), 256), 1, 15),
               16, 10).cast("decimal(20,0)").cast("double")
    return (h + F.lit(float(salt) * 2654435761.0)) % 281474976710656.0 \
        / 281474976710656.0


@register_stage
@dataclass
class AddRandomBoolean(Stage):
    """stage/AddRandomBoolean.java:1-10 (seeded-deterministic)."""
    dest: str = "bool"
    seed_field: str = "id"
    percent_true: float = 0.5

    def apply(self, df):
        return self._set(df, self.dest,
                         _seeded_u01(F.col(self.seed_field), 1)
                         < self.percent_true)


@register_stage
@dataclass
class AddRandomInt(Stage):
    """stage/AddRandomInt.java (seeded-deterministic)."""
    dest: str = "num"
    seed_field: str = "id"
    min_value: int = 0
    max_value: int = 100

    def apply(self, df):
        span = self.max_value - self.min_value
        return self._set(df, self.dest,
                         (F.floor(_seeded_u01(F.col(self.seed_field), 2)
                                  * span) + self.min_value).cast("int"))


@register_stage
@dataclass
class AddRandomDouble(Stage):
    """stage/AddRandomDouble.java (seeded-deterministic)."""
    dest: str = "dbl"
    seed_field: str = "id"

    def apply(self, df):
        return self._set(df, self.dest, _seeded_u01(F.col(self.seed_field), 3))


@register_stage
@dataclass
class AddRandomString(Stage):
    """stage/AddRandomString.java:1-30 — draw from a word list."""
    dest: str = "word"
    seed_field: str = "id"
    words: Sequence[str] = ("alpha", "beta", "gamma", "delta")

    def apply(self, df):
        arr = F.array(*[F.lit(w) for w in self.words])
        idx = F.floor(_seeded_u01(F.col(self.seed_field), 4)
                      * len(self.words)).cast("int")
        return self._set(df, self.dest, F.element_at(arr, idx + 1))


@register_stage
@dataclass
class RandomVector(Stage):
    """stage/RandomVector.java — deterministic pseudo-random float vector."""
    dest: str = "vector"
    seed_field: str = "id"
    dim: int = 16

    def apply(self, df):
        comps = [
            (_seeded_u01(F.col(self.seed_field), 100 + j) * 2 - 1
             ).cast("float") for j in range(self.dim)]
        return self._set(df, self.dest, F.array(*comps))


@register_stage
@dataclass
class ExtractEntities(Stage):
    """stage/ExtractEntities.java:1-30 / ExtractEntitiesFST.java — dictionary
    entity extraction with payloads. The reference builds an Aho-Corasick
    trie / Lucene FST; over tokenized text the equivalent JVM-side plan is:
    single-word entries via array_intersect + map lookup, multi-word entries
    via consecutive-token window checks (one codegen'd pass, dictionary
    broadcast as literals; at very large dictionaries switch to a broadcast
    join on the exploded tokens).

    Options mirror ExtractEntities.java:59-90:
    - ignore_case (ref default false; ours true, preserving round-1
      behavior — set False for case-sensitive matching)
    - only_whole_words (default true; False matches substrings of the raw
      text, the reference's non-whole-word trie mode)
    - use_payloads (default true; False emits the matched entry itself)
    - stop_on_hit (default false; True keeps only the first dictionary
      entry that matches, in dictionary order)
    - ignore_overlaps (default false; True drops a matched entry whose
      token sequence is strictly contained in another matched entry —
      the doc-level equivalent of the trie's longest-match-wins, computed
      statically over the dictionary at plan time)."""
    source: str = ""
    dest: str = "entities"
    dictionary: Dict[str, str] = dc_field(default_factory=dict)  # term->payload
    ignore_case: bool = True
    only_whole_words: bool = True
    use_payloads: bool = True
    stop_on_hit: bool = False
    ignore_overlaps: bool = False
    # large-dictionary mode: explode tokens -> broadcast-join the dictionary
    # (single-word entries) + a positional group-count for phrases — plan
    # size is O(1) in |dict| instead of one expression per entry. Auto-picks
    # above join_threshold entries (ExtractEntitiesFST territory); needs
    # only_whole_words. Rows are keyed by id_col when present (unique ids
    # required — the reference's Document contract) or by a surrogate over
    # a lazily checkpointed base when absent (ADVICE r3).
    # use_join=True/False forces a mode.
    use_join: Optional[bool] = None
    join_threshold: int = 256
    id_col: str = "id"

    @staticmethod
    def _contains_seq(small: Sequence[str], big: Sequence[str]) -> bool:
        if len(small) >= len(big):
            return False
        return any(tuple(big[i:i + len(small)]) == tuple(small)
                   for i in range(len(big) - len(small) + 1))

    def _entry_terms(self, entry: str):
        import re

        if self.ignore_case:
            from lucille_spark.analysis import tokenize_py

            return tokenize_py(entry)
        return re.findall(r"[A-Za-z0-9_]+", entry)

    @staticmethod
    def _containment(entries: List[str], entry_terms: Dict[str, list]):
        """{contained_idx: [container_idx, ...]} for ignore_overlaps,
        via a sub-sequence hash index — O(sum len^2), NOT O(|dict|^2)
        pairwise predicate duplication (VERDICT r2)."""
        by_tuple: Dict[tuple, list] = {}
        for idx, e in enumerate(entries):
            by_tuple.setdefault(tuple(entry_terms[e]), []).append(idx)
        out: Dict[int, list] = {}
        for cidx, e in enumerate(entries):
            big = entry_terms[e]
            for ln in range(1, len(big)):
                for s in range(len(big) - ln + 1):
                    for sidx in by_tuple.get(tuple(big[s:s + ln]), []):
                        out.setdefault(sidx, []).append(cidx)
        return out

    def _tokens_col(self):
        from lucille_spark.analysis import tokenize_col

        if self.ignore_case:
            return tokenize_col(F.col(self.source))
        return F.regexp_extract_all(
            F.col(self.source), F.lit("[A-Za-z0-9_]+"), F.lit(0))

    def apply(self, df):
        join_mode = self.use_join
        if join_mode is None:
            # id_col no longer gates auto-enable: frames without an id
            # column use the checkpointed-surrogate key (ADVICE r3)
            join_mode = (self.only_whole_words
                         and len(self.dictionary) > self.join_threshold)
        if join_mode:
            if not self.only_whole_words:
                raise ValueError("join mode requires only_whole_words")
            return self._apply_join(df)
        return self._apply_expr(df)

    def _apply_expr(self, df):
        """Small-dictionary path: one codegen'd predicate per entry."""
        toks = self._tokens_col()
        entries = list(self.dictionary)
        entry_terms = {e: self._entry_terms(e) for e in entries}

        def match_pred(entry: str):
            if not self.only_whole_words:
                raw = F.col(self.source)
                needle = F.lit(entry.lower() if self.ignore_case else entry)
                hay = F.lower(raw) if self.ignore_case else raw
                return F.contains(hay, needle)
            terms = entry_terms[entry]
            if not terms:
                return F.lit(False)
            if len(terms) == 1:
                return F.array_contains(toks, terms[0])
            # parameterized phrase window over the shared tokenizer —
            # no SQL-string splicing (entries with quotes are safe)
            from lucille_spark.query.executor_df import phrase_pred

            return phrase_pred(terms, toks)

        # each entry's predicate built exactly ONCE; overlap suppression
        # reuses the container's already-built Column (containment pairs
        # from the hash index), so the expression tree is O(entries + pairs)
        preds = {e: match_pred(e) for e in entries}
        containers: Dict[int, list] = (
            self._containment(entries, entry_terms)
            if (self.ignore_overlaps and self.only_whole_words) else {})
        hits = []
        for idx, (entry, payload) in enumerate(self.dictionary.items()):
            pred = preds[entry]
            for cidx in containers.get(idx, []):
                pred = pred & ~F.coalesce(preds[entries[cidx]], F.lit(False))
            out_val = payload if self.use_payloads else entry
            hits.append(F.when(F.coalesce(pred, F.lit(False)),
                               F.lit(out_val)))
        matched = F.array_distinct(
            F.filter(F.array(*hits), lambda x: x.isNotNull()))
        if self.stop_on_hit:
            matched = F.slice(matched, 1, 1)
        return self._set(df, self.dest, matched)

    def _apply_join(self, df):
        """Large-dictionary path (the ExtractEntitiesFST contract,
        ExtractEntitiesFST.java): tokens posexploded once; single-word
        entries resolve via one broadcast hash join; a phrase entry matches
        when all its terms land at consecutive positions — group hits by
        (doc, entry, pos - term_idx) and demand n_terms distinct term
        indexes, i.e. the positional-intersection trick, no second pass
        over token arrays. Overlap suppression and first-match dedupe are
        joins/aggregations, so nothing here scales with |dict| except the
        broadcast table itself. Output is identical to the expression path
        (payloads in dictionary order, first-occurrence dedupe).

        Row keying for the rejoin (ADVICE r3): when ``id_col`` exists it
        is the key — REQUIREMENT: ids must be unique, which is the
        reference's own Document contract (Document ids are the primary
        key throughout lucille); duplicate ids would merge matches across
        rows, and null-id rows get empty results. When the frame has no
        id column, a monotonically_increasing_id surrogate is captured
        pre-explode over a LAZILY CHECKPOINTED base — the checkpoint
        makes both sides of the rejoin read the same materialized rows,
        because a nondeterministic surrogate recomputed per subtree can
        diverge when the upstream plan contains joins (AQE may lay out
        partitions differently per evaluation; observed in round 4)."""
        spark = df.sparkSession
        entries = list(self.dictionary)
        entry_terms = {e: self._entry_terms(e) for e in entries}
        rows = []
        for idx, (entry, payload) in enumerate(self.dictionary.items()):
            terms = entry_terms[entry]
            if not terms:
                continue
            out_val = payload if self.use_payloads else entry
            for ti, t in enumerate(terms):
                rows.append((idx, out_val, t, ti, len(terms)))
        dict_df = arrow_frame(
            spark, rows, "entry_idx int, out_val string, term string, "
                         "term_idx int, n_terms int")

        if self.id_col in df.columns:
            base, key = df, self.id_col
        else:
            base = df.withColumn(
                "_ee_sid", F.monotonically_increasing_id()
            ).localCheckpoint(eager=False)
            key = "_ee_sid"
        tok_rows = base.select(
            F.col(key).alias("_eid"),
            F.posexplode(self._tokens_col()).alias("_pos", "term"))
        hits = tok_rows.join(F.broadcast(dict_df), "term")
        single = (hits.filter(F.col("n_terms") == 1)
                  .select("_eid", "entry_idx", "out_val").distinct())
        multi = (hits.filter(F.col("n_terms") > 1)
                 .withColumn("_start", F.col("_pos") - F.col("term_idx"))
                 .groupBy("_eid", "entry_idx", "out_val", "_start", "n_terms")
                 .agg(F.count_distinct("term_idx").alias("_k"))
                 .filter(F.col("_k") == F.col("n_terms"))
                 .select("_eid", "entry_idx", "out_val").distinct())
        matched = single.unionByName(multi)

        if self.ignore_overlaps:
            pairs = [(sidx, cidx)
                     for sidx, cs in self._containment(entries,
                                                       entry_terms).items()
                     for cidx in cs]
            if pairs:
                pair_df = arrow_frame(
                    spark, pairs, "sub_idx int, container_idx int")
                cont = matched.select(F.col("_eid").alias("_ceid"),
                                      F.col("entry_idx").alias("_cidx"))
                sup = (matched.join(F.broadcast(pair_df),
                                    F.col("entry_idx") == F.col("sub_idx"))
                       .join(cont, (F.col("_eid") == F.col("_ceid"))
                             & (F.col("container_idx") == F.col("_cidx")))
                       .select("_eid", "entry_idx").distinct())
                matched = matched.join(sup, ["_eid", "entry_idx"],
                                       "left_anti")

        # dictionary-order output with first-occurrence payload dedupe —
        # exactly the expression path's array_distinct(filter(array(...)))
        per_val = (matched.groupBy("_eid", "out_val")
                   .agg(F.min("entry_idx").alias("_fi")))
        agg = (per_val.groupBy("_eid")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("_fi", "out_val"))),
                   lambda s: s["out_val"]).alias("_ee_matched")))
        res = base.join(agg.withColumnRenamed("_eid", key), key, "left")
        matched_col = F.coalesce(F.col("_ee_matched"),
                                 F.array().cast("array<string>"))
        if self.stop_on_hit:
            matched_col = F.slice(matched_col, 1, 1)
        res = self._set(res, self.dest, matched_col).drop("_ee_matched")
        return res.drop("_ee_sid") if key == "_ee_sid" else res


@register_stage
@dataclass
class FetchFileContent(Stage):
    """stage/FetchFileContent.java:1-14 — path field -> byte[] content.
    The per-doc fetch loop becomes a broadcast-able join against a
    binaryFile read of the docs' root (util/FileContentFetcher.java)."""
    path_field: str = "file_path"
    dest: str = "content"
    root: str = ""

    def apply(self, df):
        spark = df.sparkSession
        files = (spark.read.format("binaryFile")
                 .option("recursiveFileLookup", "true").load(self.root)
                 .select(F.col("path").alias("__p"),
                         F.col("content").alias(self.dest)))
        # file paths from binaryFile are file:-prefixed URIs
        joined = df.join(
            files,
            F.regexp_replace(files["__p"], "^file:", "")
            == F.col(self.path_field), "left")
        return joined.drop("__p")


@register_stage
@dataclass
class NormalizeFieldNames(Stage):
    """stage/NormalizeFieldNames.java:1-10 — rewrite field NAMES
    (spaces / non-alphanumerics -> delimiter), computed once from the
    schema."""
    delimiter: str = "_"

    def apply(self, df):
        import re

        for c in list(df.columns):
            clean = re.sub(r"[^0-9A-Za-z]+", self.delimiter, c).strip(
                self.delimiter)
            if clean and clean != c:
                df = df.withColumnRenamed(c, clean)
        return df


@register_stage
@dataclass
class CreateChildrenStage(Stage):
    """stage/CreateChildrenStage.java:1-16 — emit N synthetic children
    (testing); children land in ___children like ChunkText."""
    num_children: int = 2
    id_col: str = "id"
    drop_parent: bool = False

    def apply(self, df):
        children = F.transform(
            F.sequence(F.lit(1), F.lit(self.num_children)),
            lambda i: F.struct(
                F.concat(F.col(self.id_col).cast("string"), F.lit("-child"),
                         i.cast("string")).alias("id")))
        out = df.withColumn(CHILDREN, children)
        if self.drop_parent:
            out = out.withColumn(DROPPED, F.lit(True))
        return out


@register_stage
@dataclass
class PythonUDF(Stage):
    """The UDF escape hatch replacing EmbeddedPython / ExternalPython
    (stage/EmbeddedPython.java:581-597, stage/ExternalPython.java:599-706):
    the user supplies a vectorized ``fn(pd.DataFrame) -> pd.DataFrame``
    applied via mapInPandas (Arrow batches — never row-at-a-time)."""
    fn: object = None
    schema: str = ""

    def apply(self, df):
        assert callable(self.fn) and self.schema, "fn + output schema required"
        fn = self.fn

        def runner(batches):
            for pdf in batches:
                yield fn(pdf)

        return df.mapInPandas(runner, schema=self.schema)


@register_stage
@dataclass
class ApplyHTML(Stage):
    """stage/ApplyJSoup.java:1-45 — CSS-selector extraction from an HTML
    field. The reference uses jsoup; this container has no bs4/lxml, so the
    selector engine (pipeline/htmlsel.py) is from scratch on stdlib
    html.parser, run inside an Arrow-vectorized pandas UDF.

    ``mapping`` values are either
    - a selector string (legacy shorthand): text extraction, all matched
      elements' text joined into ONE string column, or
    - a selector map per the reference's destinationFields
      (ApplyJSoup.java:36-47): ``{"selector": ..., "type": "text" |
      "attribute" | "html" | "outerHtml"[, "attribute": name]}`` —
      emits array<string> of per-element results in document order
      (jsoup Elements), null when nothing matches ("field not created").

    Selector grammar: descendant chains of ``tag#id.class[attr=value]``
    simple selectors (the ApplyJSoupTest fixture surface: `.class`,
    `[name=name]`, `#id`, `a` + attribute extraction, `a[href]`).
    ``source_type``: "string" (stringField) or "binary" (byteArrayField,
    decoded with ``charset``); the filePathField variant composes as
    FetchFileContent -> ApplyHTML(source_type="binary")."""
    source: str = ""
    mapping: Dict[str, object] = dc_field(default_factory=dict)
    source_type: str = "string"
    charset: str = "utf-8"

    def _make_extract(self, spec):
        from pyspark.sql.functions import pandas_udf

        if isinstance(spec, str):
            selector, typ, attr, flat = spec, "text", None, True
        else:
            selector = spec["selector"]
            typ = spec.get("type", "text")
            attr = spec.get("attribute")
            flat = False
        if typ == "attribute" and not attr:
            raise ValueError("`attribute` field must be provided when doing "
                             "attribute extraction (ApplyJSoup.java:115)")
        charset = self.charset

        from lucille_spark.pipeline.htmlsel import parse_selector

        parse_selector(selector)  # fail fast on bad selectors

        if flat:
            @pandas_udf("string")
            def extract(col: pandas.Series) -> pandas.Series:
                from lucille_spark.pipeline.htmlsel import select_html

                def run(html):
                    if isinstance(html, (bytes, bytearray)):
                        html = html.decode(charset, errors="replace")
                    got = select_html(html, selector, typ, attr)
                    return " ".join(got) if got else None

                return col.map(run)
        else:
            @pandas_udf("array<string>")
            def extract(col: pandas.Series) -> pandas.Series:
                from lucille_spark.pipeline.htmlsel import select_html

                def run(html):
                    if isinstance(html, (bytes, bytearray)):
                        html = html.decode(charset, errors="replace")
                    return select_html(html, selector, typ, attr)

                return col.map(run)
        return extract

    def apply(self, df):
        for dest, spec in self.mapping.items():
            df = self._set(df, dest,
                           self._make_extract(spec)(F.col(self.source)))
        return df


@register_stage
@dataclass
class ApplyFileHandlers(Stage):
    """stage/ApplyFileHandlers.java:1-30 — each document references a file;
    the file is parsed by a CSV/JSONL handler and its rows become children
    of the referencing document.

    Spark-first: instead of per-doc parsing, ALL referenced files are read
    in one distributed pass (the handler source), then joined back to
    parents on the file name — the N+1 loop becomes one scan + one join.

    Pass ``root`` (a directory or glob) when the referenced files share a
    location: the scan then targets the root directly and NO driver-side
    collect of the path list happens — the scale path. Without it the
    distinct path list is collected (bounded by file count, the fallback
    for scattered paths)."""
    path_field: str = "file_path"
    handler: str = "csv"          # csv | jsonl
    handler_options: Dict[str, object] = dc_field(default_factory=dict)
    root: Optional[str] = None

    def apply(self, df):
        spark = df.sparkSession
        if self.root is not None:
            paths = [self.root]
        else:
            paths = [r[0] for r in
                     df.select(self.path_field).distinct().collect()]
        if not paths:
            return df.withColumn(CHILDREN, F.lit(None))
        if self.handler == "csv":
            from lucille_spark.sources import read_csv_docs

            children = read_csv_docs(spark, paths, **self.handler_options)
        elif self.handler == "jsonl":
            from lucille_spark.sources import read_jsonl_docs

            children = read_jsonl_docs(spark, paths, **self.handler_options)
        else:
            raise ValueError(self.handler)
        if "source" not in children.columns:
            children = children.withColumn(
                "source", F.regexp_extract(F.input_file_name(),
                                           r"([^/]+)$", 1))
        rolled = (children
                  .withColumn("_child", F.struct(*[
                      F.col(c) for c in children.columns if c != "source"]))
                  .groupBy("source")
                  .agg(F.collect_list("_child").alias(CHILDREN)))
        parent_file = F.regexp_extract(F.col(self.path_field), r"([^/]+)$", 1)
        return (df.withColumn("_pfile", parent_file)
                .join(rolled, F.col("_pfile") == rolled["source"], "left")
                .drop("_pfile", "source"))


# ------------------------------------------ round-2 stages (VERDICT r1 §5)

@register_stage
@dataclass
class AddRandomDate(Stage):
    """stage/AddRandomDate.java:1-77 (seeded-deterministic): uniform random
    timestamp in [range_start, range_end) — ISO dates, start-of-day UTC.
    The reference defaults the upper bound to now(), which is not
    reproducible; a fixed default keeps pipelines deterministic, matching
    the seeding policy of the other AddRandom* stages here."""
    dest: str = "data"
    seed_field: str = "id"
    range_start: str = "1970-01-01"
    range_end: str = "2026-01-01"

    def apply(self, df):
        from datetime import datetime, timezone

        def ms(iso: str) -> int:
            dt = datetime.strptime(iso, "%Y-%m-%d").replace(
                tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)

        start, end = ms(self.range_start), ms(self.range_end)
        if start > end:
            raise ValueError(
                "rangeStartDate is after rangeEndDate")  # AddRandomDate.java:56
        span = max(end - start, 1)
        epoch_ms = (F.lit(start)
                    + F.floor(_seeded_u01(F.col(self.seed_field), 5) * span)
                    ).cast("long")
        return self._set(df, self.dest,
                         F.timestamp_millis(epoch_ms))


def _u01_from(col: Column) -> Column:
    """Uniform [0,1) from an arbitrary string column (per-object seeds)."""
    h = F.conv(F.substring(F.sha2(col.cast("binary"), 256), 1, 15),
               16, 10).cast("decimal(20,0)").cast("double")
    return h % 281474976710656.0 / 281474976710656.0


@register_stage
@dataclass
class AddRandomNestedField(Stage):
    """stage/AddRandomNestedField.java:1-330 — writes a nested JSON array
    of objects built from a mapping of dotted destination paths to source
    fields, with optional generators for missing sources.

    entries: {"user.name": "name_col", "user.score": "gen_score"} — a value
    naming an existing column uses it; otherwise it must name a key in
    ``generators``: {"gen_score": {"type": "int", "min": 0, "max": 100}}
    (types: int, double, bool, string(words=[...]), date(start,end)).
    Generator draws are seeded per (row, object index, key), so each of the
    N objects gets its own value — mirroring the reference's fresh
    generator call per object (AddRandomNestedField.java:282-296).

    The result column is a JSON string (array of nested objects) — our
    documents hold dynamic nested JSON as serialized columns, read back via
    get_json_object/from_json (SURVEY.md §1.3)."""
    target_field: str = "nested"
    entries: Dict[str, str] = dc_field(default_factory=dict)
    num_objects: Optional[int] = None
    min_num_objects: Optional[int] = None
    max_num_objects: Optional[int] = None
    generators: Dict[str, Dict] = dc_field(default_factory=dict)
    seed_field: str = "id"

    def __post_init__(self):
        if not self.entries:
            raise ValueError("entries must be a non-empty mapping")
        if not self.target_field:
            raise ValueError("targetField is required")
        if self.num_objects is not None and self.num_objects <= 0:
            raise ValueError("numObjects must be a positive integer")
        if (self.min_num_objects is None) ^ (self.max_num_objects is None):
            raise ValueError("min/maxNumObjects must be provided together")
        if self.min_num_objects is not None:
            if self.min_num_objects <= 0 or self.max_num_objects <= 0:
                raise ValueError("min/maxNumObjects must be positive")
            if self.min_num_objects > self.max_num_objects:
                raise ValueError("minNumObjects must be <= maxNumObjects")
            if self.num_objects is not None:
                raise ValueError(
                    "numObjects and min/maxNumObjects are exclusive")
        for dest in self.entries:
            if any(not seg for seg in dest.split(".")):
                raise ValueError(f"invalid destination {dest!r}")

    def _gen_value(self, spec: Dict, seed: Column) -> Column:
        u = _u01_from(seed)
        t = spec.get("type", "int")
        if t == "int":
            lo, hi = spec.get("min", 0), spec.get("max", 100)
            return (F.floor(u * (hi - lo)) + lo).cast("int")
        if t == "double":
            return u
        if t == "bool":
            return u < spec.get("percent_true", 0.5)
        if t == "string":
            words = list(spec.get("words", ("alpha", "beta", "gamma")))
            arr = F.array(*[F.lit(w) for w in words])
            return F.element_at(arr,
                                F.floor(u * len(words)).cast("int") + 1)
        raise ValueError(f"unknown generator type {t!r}")

    def apply(self, df):
        cols = set(df.columns)

        def build_obj(i: Column) -> Column:
            # nest dotted paths into a struct tree
            tree: Dict = {}
            for dest, src in self.entries.items():
                parts = dest.split(".")
                node = tree
                for p in parts[:-1]:
                    node = node.setdefault(p, {})
                if src in cols:
                    val = F.col(src)
                elif src in self.generators:
                    seed = F.concat(F.col(self.seed_field).cast("string"),
                                    F.lit("#"), i.cast("string"),
                                    F.lit("#"), F.lit(src))
                    val = self._gen_value(self.generators[src], seed)
                else:
                    raise ValueError(
                        f"missing value for {dest!r} (source={src!r}) "
                        "and no generator available")
                node[parts[-1]] = val

            def to_struct(node: Dict) -> Column:
                fields = []
                for k, v in node.items():
                    col = to_struct(v) if isinstance(v, dict) else v
                    fields.append(col.alias(k))
                return F.struct(*fields)

            return to_struct(tree)

        if self.num_objects is not None:
            n = F.lit(self.num_objects)
        elif self.min_num_objects is not None:
            lo, hi = self.min_num_objects, self.max_num_objects
            n = (F.floor(_seeded_u01(F.col(self.seed_field), 6)
                         * (hi - lo + 1)) + lo).cast("int")
        else:
            n = F.lit(1)
        objs = F.transform(F.sequence(F.lit(1), n), lambda i: build_obj(i))
        return self._set(df, self.target_field, F.to_json(objs))


@register_stage
@dataclass
class FetchUri(Stage):
    """stage/FetchUri.java:1-200 — batched HTTP GET of a URL column with
    exponential-backoff retries; emits dest (base64 body) plus
    <source>_<suffix> columns for size / status code / error.

    Arrow-batched pandas UDF with a thread pool per batch: HTTP is
    latency-bound, so ~8 concurrent fetches per executor task is the
    distributed analogue of the reference's single-threaded per-doc loop.
    Rows with a null/empty source are passed through untouched
    (FetchUri.java javadoc: 'document will be skipped')."""
    source: str = "url"
    dest: str = "data"
    size_suffix: str = "size"
    status_suffix: str = "status_code"
    error_suffix: str = "error"
    max_size: Optional[int] = None
    max_retries: int = 0
    initial_expiry_ms: int = 100
    max_expiry_ms: int = 10000
    timeout_ms: int = 60000
    headers: Dict[str, str] = dc_field(default_factory=dict)
    status_code_retry_list: Sequence[int] = ()
    concurrency: int = 8

    def apply(self, df):
        import pandas as pd
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType)

        cfg = dataclasses.asdict(self)
        cfg.pop("conditions", None)

        out_type = StructType([
            StructField("data", StringType()),
            StructField("size", LongType()),
            StructField("status", IntegerType()),
            StructField("error", StringType()),
        ])

        @F.pandas_udf(out_type)
        def fetch(urls: pandas.Series) -> pandas.DataFrame:
            import base64
            import time as _time
            import urllib.error
            import urllib.request
            from concurrent.futures import ThreadPoolExecutor

            def one(url):
                if url is None or str(url).strip() == "":
                    return (None, None, None, None)
                expiry = cfg["initial_expiry_ms"]
                attempts = cfg["max_retries"] + 1
                err = status = body = None
                for attempt in range(attempts):
                    try:
                        req = urllib.request.Request(
                            url, headers=dict(cfg["headers"]))
                        with urllib.request.urlopen(
                                req, timeout=cfg["timeout_ms"] / 1000) as r:
                            status = r.status
                            body = (r.read(cfg["max_size"])
                                    if cfg["max_size"] else r.read())
                        err = None
                        break
                    except urllib.error.HTTPError as e:
                        status, err = e.code, str(e)
                        if (cfg["status_code_retry_list"]
                                and e.code not in
                                cfg["status_code_retry_list"]):
                            break
                    except Exception as e:       # noqa: BLE001
                        err = str(e)
                    if attempt + 1 < attempts:
                        _time.sleep(expiry / 1000)
                        expiry = min(expiry * 2, cfg["max_expiry_ms"])
                data = (base64.b64encode(body).decode("ascii")
                        if body is not None else None)
                size = len(body) if body is not None else None
                return (data, size, status, err)

            with ThreadPoolExecutor(max_workers=cfg["concurrency"]) as ex:
                rows = list(ex.map(one, urls.tolist()))
            return pd.DataFrame(
                rows, columns=["data", "size", "status", "error"])

        res = fetch(F.col(self.source))
        out = df.withColumn("_fetch", res)
        out = (out
               .withColumn(self.dest, F.col("_fetch.data"))
               .withColumn(f"{self.source}_{self.size_suffix}",
                           F.col("_fetch.size"))
               .withColumn(f"{self.source}_{self.status_suffix}",
                           F.col("_fetch.status"))
               .withColumn(f"{self.source}_{self.error_suffix}",
                           F.col("_fetch.error"))
               .drop("_fetch"))
        return out


@register_stage
@dataclass
class ApplyJSONata(Stage):
    """stage/ApplyJSONata.java:1-95 — apply a JSONata expression to a
    field's JSON value (source mode) or to the whole document.

    The expression compiles once (parse errors raise at stage build, like
    the reference's start()); evaluation runs in an Arrow-batched pandas
    UDF over JSON strings via the from-scratch subset evaluator in
    pipeline/jsonata.py. Per-document evaluation failures leave the
    document unchanged (ApplyJSONata.java:78-81 warn-and-skip).

    Source mode: ``source`` names a JSON-string column; result goes to
    ``destination`` (default: mutate source). Whole-doc mode (source=None):
    the row's columns are serialized to one JSON object, transformed, and
    the result object's top-level keys are written back to matching
    columns (non-object results or reserved-field mutations skip the doc,
    matching the reference). New keys require ``extra_columns`` to declare
    them (Spark schemas are static)."""
    expression: str = ""
    source: Optional[str] = None
    destination: Optional[str] = None
    extra_columns: Sequence[str] = ()
    id_col: str = "id"

    def __post_init__(self):
        from lucille_spark.pipeline.jsonata import Expression

        Expression(self.expression)  # validate eagerly

    def apply(self, df):
        import pandas as pd

        expr_src = self.expression

        @F.pandas_udf(StringType())
        def run(s: pandas.Series) -> pandas.Series:
            from lucille_spark.pipeline.jsonata import (Expression,
                                                        JsonataError)

            e = Expression(expr_src)

            def go(v):
                if v is None:
                    return None
                try:
                    return e.evaluate_json(v)
                except (JsonataError, Exception):   # warn-and-skip
                    return None

            return s.map(go)

        if self.source is not None:
            dest = self.destination or self.source
            out = run(F.col(self.source))
            # absent/None source or failed evaluation -> unchanged doc
            if dest in df.columns:
                out = F.coalesce(out, F.col(dest))
            return self._set(df, dest, out)

        # whole-doc mode: serialize row -> transform -> merge keys back
        doc_cols = [c for c in df.columns if not c.startswith("_")]
        doc_json = F.to_json(F.struct(*[F.col(c) for c in doc_cols]))
        transformed = run(doc_json)
        tmp = df.withColumn("_jsonata", transformed)
        all_out = list(dict.fromkeys(list(df.columns)
                                     + list(self.extra_columns)))
        result = tmp
        for c in self.extra_columns:
            if c not in result.columns:
                result = result.withColumn(c, F.lit(None).cast("string"))
        for c in all_out:
            if c == self.id_col:
                continue  # reserved: id never mutated (reservedFields.conf)
            new_val = F.get_json_object(F.col("_jsonata"), f"$.{c}")
            cur = F.col(c)
            dtype = dict(result.dtypes).get(c, "string")
            result = result.withColumn(
                c, F.when(F.col("_jsonata").isNull(), cur)
                .otherwise(new_val.cast(dtype)))
        return result.drop("_jsonata")


@register_stage
@dataclass
class SetNestedField(Stage):
    """core/Document.java:744-783 setNestedJson — write a value at a
    dotted/indexed path (``a.b[2].c`` or ``a.b.2.c``) inside a JSON-string
    column, creating missing containers. ``value_field`` takes the value
    from another column (JSON-decoded when it parses, else as string);
    ``value`` is a literal. Arrow-batched pandas UDF — generic nested
    mutation has no static schema for Catalyst to compile."""
    source: str = "meta"
    path: str = ""
    value: object = None
    value_field: Optional[str] = None

    def apply(self, df):
        import json as _json

        path, lit_value = self.path, self.value
        from lucille_spark.pipeline.jsonpath import parse_segments

        parse_segments(path)  # validate eagerly

        if self.value_field is not None:
            @F.pandas_udf(StringType())
            def set_v(js: pandas.Series, vs: pandas.Series) -> pandas.Series:
                from lucille_spark.pipeline.jsonpath import set_in_json

                def one(j, v):
                    if v is not None:
                        try:
                            v = _json.loads(v)
                        except (ValueError, TypeError):
                            pass
                    return set_in_json(j or "null", path, v)

                return pandas.Series(
                    [one(j, v) for j, v in zip(js, vs)])

            out = set_v(F.col(self.source),
                        F.col(self.value_field).cast("string"))
        else:
            @F.pandas_udf(StringType())
            def set_l(js: pandas.Series) -> pandas.Series:
                from lucille_spark.pipeline.jsonpath import set_in_json

                return pandas.Series(
                    [set_in_json(j or "null", path, lit_value) for j in js])

            out = set_l(F.col(self.source))
        return self._set(df, self.source, out)


@register_stage
@dataclass
class RemoveNestedField(Stage):
    """core/Document.java:785-800 removeNestedJson — remove the value at a
    dotted/indexed path inside a JSON-string column (missing path = no-op;
    array elements shift left like JsonNode.remove(int))."""
    source: str = "meta"
    path: str = ""

    def apply(self, df):
        path = self.path
        from lucille_spark.pipeline.jsonpath import parse_segments

        parse_segments(path)

        @F.pandas_udf(StringType())
        def rm(js: pandas.Series) -> pandas.Series:
            from lucille_spark.pipeline.jsonpath import remove_in_json

            return pandas.Series(
                [remove_in_json(j, path) if j is not None else None
                 for j in js])

        return self._set(df, self.source, rm(F.col(self.source)))


# ------------------------------------------------- external-lookup stages

@register_stage
@dataclass
class QueryDatabase(Stage):
    """stage/QueryDatabase.java:1-190 — per-document prepared-statement
    lookup, re-expressed set-based: the reference opens ONE connection and
    runs `SELECT ... WHERE key = ?` once per document; here the lookup
    relation is read ONCE via the JDBC datasource (``lookup_sql`` is the
    reference's ``sql`` minus the per-document WHERE), pre-aggregated per
    key, and broadcast-joined to the documents — zero round trips per doc,
    the only sane shape at 10^12 docs.

    Contract parity (QueryDatabaseTest.java):
    - key_fields (doc side) pair with key_columns (db side; defaults to
      key_fields) — multi-key = the multi-`?` prepared statement
    - field_mapping {db_column -> doc_field}: every result row's value is
      accumulated into the doc field as a list, row-aligned across mapped
      columns (testMultipleResults: output1=[12,tiger], output2=[2,2])
    - no match -> fields stay null (reference: fields unset)
    - inputTypes are unnecessary: column types come from the db schema and
      Catalyst's join coercion
    - deviation: result rows are ordered by the mapped columns' values
      (deterministic under parallelism) rather than db cursor order
    - connectionRetries/connectionRetryPause ride on the JDBC datasource
    """
    connection_string: str = ""
    lookup_sql: str = ""            # e.g. "SELECT id, name FROM meal"
    key_fields: Sequence[str] = ()  # doc-side columns
    key_columns: Sequence[str] = () # db-side columns (default key_fields)
    field_mapping: Dict[str, str] = dc_field(default_factory=dict)
    driver: Optional[str] = None
    user: Optional[str] = None
    password: Optional[str] = None
    broadcast: bool = True          # lookup tables are usually dim-sized

    def lookup_frame(self, spark) -> DataFrame:
        reader = (spark.read.format("jdbc")
                  .option("url", self.connection_string)
                  .option("query", self.lookup_sql))
        if self.driver:
            reader = reader.option("driver", self.driver)
        if self.user is not None:
            reader = (reader.option("user", self.user)
                      .option("password", self.password or ""))
        return reader.load()

    def apply(self, df):
        return self._join_lookup(df, self.lookup_frame(df.sparkSession))

    def _join_lookup(self, df, lk: DataFrame):
        key_cols = list(self.key_columns or self.key_fields)
        if len(key_cols) != len(self.key_fields):
            raise ValueError("key_fields and key_columns must pair up")
        mapped = list(self.field_mapping)
        # one row per key: row-aligned struct list, deterministically sorted
        agg = lk.groupBy(*key_cols).agg(F.sort_array(F.collect_list(
            F.struct(*[F.col(c) for c in mapped]))).alias("_qd_rows"))
        agg = agg.select(
            *[F.col(c).alias(f"_qd_k{i}") for i, c in enumerate(key_cols)],
            "_qd_rows")
        cond = None
        for i, kf in enumerate(self.key_fields):
            eq = df[kf] == F.col(f"_qd_k{i}")
            cond = eq if cond is None else (cond & eq)
        rhs = F.broadcast(agg) if self.broadcast else agg
        out = df.join(rhs, cond, "left")
        rows = F.col("_qd_rows")
        for c, dest in self.field_mapping.items():
            out = self._set(out, dest,
                            F.when(rows.isNotNull(),
                                   F.transform(rows, lambda r: r[c])))
        return out.drop("_qd_rows",
                        *[f"_qd_k{i}" for i in range(len(key_cols))])


@register_stage
@dataclass
class IndexLookup(Stage):
    """stage/ElasticsearchLookup.java:1-121 — look up an existing document
    BY ID in a search index and copy chosen stored fields into the current
    document. The reference GETs from Elasticsearch per doc; our search
    backend is the from-scratch index (SURVEY.md §2.9), whose doc_stats
    table is the stored-fields store — so the lookup is one broadcast-able
    join against doc_stats on doc_id. Values are copied as strings
    (node.asText(), ElasticsearchLookup.java:113); missing index doc or
    missing column -> dest is written as NULL string, so every dest column
    always exists with a stable schema (ADVICE r3: a silently-absent dest
    broke downstream selects)."""
    index_dir: str = ""
    id_col: str = "id"
    source: Sequence[str] = ()   # doc_stats columns to fetch
    dest: Sequence[str] = ()
    broadcast: bool = False      # doc_stats is corpus-sized by default

    def apply(self, df):
        from lucille_spark.index import snapshot

        if len(self.source) != len(self.dest):
            raise ValueError("source and dest must pair up "
                             "(ElasticsearchLookup.java:108-114)")
        spark = df.sparkSession
        stats = spark.read.parquet(*snapshot.paths(
            self.index_dir, snapshot.load(self.index_dir), "doc_stats"))
        cols = [F.col("doc_id").alias("_il_id")]
        for s, d in zip(self.source, self.dest):
            src = (F.col(s).cast("string") if s in stats.columns
                   else F.lit(None).cast("string"))
            cols.append(src.alias(f"_il_{d}"))
        lk = stats.select(*cols)
        rhs = F.broadcast(lk) if self.broadcast else lk
        out = df.join(rhs, df[self.id_col] == F.col("_il_id"), "left")
        for s, d in zip(self.source, self.dest):
            out = self._set(out, d, F.col(f"_il_{d}"))
        return out.drop("_il_id", *[f"_il_{d}" for d in self.dest])
