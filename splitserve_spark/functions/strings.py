"""String function surface (SURVEY.md §2.8, registry lines :266-319).

Reference impls: `catalyst/expressions/stringExpressions.scala` (35
classes, e.g. Concat:50 ConcatWs:94 Upper:270 Lower:290 StringTrim:476
StringLPad:706 Substring:1124 Length:1168 Levenshtein:1195 Ascii:1245
Base64:1283 InitCap:1014 StringRepeat:1037 StringReverse:1066),
`regexpExpressions.scala` (Like:72 RLike:125 StringSplit:184
RegExpReplace:222 RegExpExtract:328).

All JVM-side built-ins — whole-stage-codegen'd, no Python boundary.
Oracle dialect notes are inline (e.g. DuckDB regexp_replace needs the
'g' flag to match Spark's replace-all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.tables import Tables


@register(
    "fn_string_basic",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                       AS up,
           lower(p_brand)                      AS lo,
           length(p_name)                      AS len,
           concat(p_brand, ':', p_type)        AS joined,
           concat_ws('-', p_brand, p_type)     AS ws_joined,
           substring(p_name, 2, 5)             AS sub,
           trim('  ' || p_name || ' ')         AS trimmed,
           lpad(p_brand, 12, '*')              AS padded_l,
           rpad(p_brand, 12, '#')              AS padded_r,
           reverse(p_type)                     AS rev,
           repeat(p_brand, 2)                  AS rep,
           replace(p_type, 'E', '3')           AS repl,
           left(p_name, 4)                     AS l4,
           right(p_name, 4)                    AS r4
    FROM part
    ORDER BY p_partkey
    """,
    tags=("function", "string"),
)
def fn_string_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.part.select(
            "p_partkey",
            F.upper("p_name").alias("up"),
            F.lower("p_brand").alias("lo"),
            F.length("p_name").cast("bigint").alias("len"),
            F.concat("p_brand", F.lit(":"), "p_type").alias("joined"),
            F.concat_ws("-", "p_brand", "p_type").alias("ws_joined"),
            F.substring("p_name", 2, 5).alias("sub"),
            F.trim(F.concat(F.lit("  "), "p_name", F.lit(" "))).alias("trimmed"),
            F.lpad("p_brand", 12, "*").alias("padded_l"),
            F.rpad("p_brand", 12, "#").alias("padded_r"),
            F.reverse("p_type").alias("rev"),
            F.repeat("p_brand", 2).alias("rep"),
            F.replace("p_type", F.lit("E"), F.lit("3")).alias("repl"),
            F.substring("p_name", 1, 4).alias("l4"),
            F.expr("right(p_name, 4)").alias("r4"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_string_predicates",
    oracle="""
    SELECT p_partkey,
           starts_with(p_type, 'PRO')       AS sw,
           p_type LIKE '%ARG%'              AS has_arg,
           contains(p_name, 'a')            AS has_a,
           CAST(strpos(p_name, 'e') AS INTEGER) AS pos_e,
           array_to_string(
             list_transform(string_split(lower(p_type), ' '),
                            w -> upper(substr(w, 1, 1)) || substr(w, 2, 999)),
             ' ')                           AS icap,
           ascii(p_brand)                   AS first_code,
           CAST(levenshtein(p_brand, p_type) AS INTEGER) AS lev
    FROM part
    ORDER BY p_partkey
    """,
    tags=("function", "string"),
)
def fn_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.part.select(
            "p_partkey",
            F.startswith("p_type", F.lit("PRO")).alias("sw"),
            F.col("p_type").like("%ARG%").alias("has_arg"),
            F.contains("p_name", F.lit("a")).alias("has_a"),
            F.instr("p_name", "e").cast("int").alias("pos_e"),
            F.initcap("p_type").alias("icap"),
            F.ascii("p_brand").alias("first_code"),
            F.levenshtein("p_brand", "p_type").cast("int").alias("lev"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_string_regex",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, '#(\\d+)', 1)            AS brand_num,
           regexp_replace(p_name, '[aeiou]', '_', 'g')      AS devowel,
           regexp_matches(p_type, '^(PRO|ECO)')             AS is_pe,
           string_split(p_name, ' ')[1]                     AS first_word,
           CAST(len(string_split(p_name, ' ')) AS INTEGER)  AS n_words,
           translate(p_type, 'AEO', 'aeo')                  AS translated
    FROM part
    ORDER BY p_partkey
    """,
    tags=("function", "string", "regex"),
)
def fn_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / replace-all / rlike / split / translate.
    DuckDB regexp_replace replaces the FIRST match unless given the 'g'
    flag; Spark always replaces all — oracle passes 'g'."""
    t = Tables(spark, sf_dir)
    return (
        t.part.select(
            "p_partkey",
            F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devowel"),
            F.col("p_type").rlike("^(PRO|ECO)").alias("is_pe"),
            F.split("p_name", " ").getItem(0).alias("first_word"),
            F.size(F.split("p_name", " ")).alias("n_words"),
            F.translate("p_type", "AEO", "aeo").alias("translated"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_string_codec",
    oracle="""
    SELECT n_nationkey,
           base64(encode(n_name))              AS b64,
           decode(from_base64(base64(encode(n_name)))) AS roundtrip,
           format('{}-{:03d}', n_name, n_nationkey)    AS formatted
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "string", "codec"),
)
def fn_string_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base64/unbase64 roundtrip + printf-style formatting
    (reference Base64:1283, UnBase64:1312, FormatString:936)."""
    t = Tables(spark, sf_dir)
    return (
        t.nation.select(
            "n_nationkey",
            F.base64(F.col("n_name").cast("binary")).alias("b64"),
            F.unbase64(F.base64(F.col("n_name").cast("binary")))
            .cast("string")
            .alias("roundtrip"),
            F.format_string("%s-%03d", "n_name", "n_nationkey").alias("formatted"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_string_modern",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1)        AS first_word,
           split_part(p_name, ' ', -1)       AS last_word,
           left(p_name, 3)                   AS l3,
           right(p_name, 3)                  AS r3,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
           'XX' || substr(p_brand, 6)                       AS masked
    FROM part
    WHERE p_partkey <= 400
    ORDER BY p_partkey
    """,
    tags=("string", "modern"),
)
def fn_string_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern string additions: split_part (±index), left/right,
    regexp_count, overlay — all JVM-side, same names in DuckDB."""
    t = Tables(spark, sf_dir)
    return (
        t.part.filter(F.col("p_partkey") <= 400)
        .select(
            "p_partkey",
            F.split_part("p_name", F.lit(" "), F.lit(1)).alias("first_word"),
            F.split_part("p_name", F.lit(" "), F.lit(-1)).alias("last_word"),
            F.expr("left(p_name, 3)").alias("l3"),
            F.expr("right(p_name, 3)").alias("r3"),
            F.regexp_count("p_name", F.lit("[aeiou]")).alias("n_vowels"),
            F.overlay("p_brand", F.lit("XX"), 1, 5).alias("masked"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_url_parse",
    oracle="""
    SELECT doc_id,
           regexp_extract(url, 'https?://([^/]+)', 1)        AS host,
           regexp_extract(url, 'https?://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]id=([^&#]*)', 1)         AS q_id,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1)       AS q_lang
    FROM (
        SELECT doc_id,
               'https://' || source || '.example.com/docs/' ||
               CAST(doc_id AS VARCHAR) || '?id=' ||
               CAST(doc_id AS VARCHAR) || '&lang=' || lang AS url
        FROM documents
    )
    ORDER BY doc_id
    """,
    tags=("string",),
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url: HOST / PATH / per-key QUERY extraction (ref
    `stringExpressions.scala` ParseUrl:1510).  URLs are synthesized
    from document metadata so the query is self-contained; the oracle
    mirrors parse_url's component grammar with regexes.  Zero-shuffle
    codegen projection — exactly how URL columns are normalized before
    host-level dedup at 100 TB."""
    t = Tables(spark, sf_dir)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?id="),
        F.col("doc_id").cast("string"),
        F.lit("&lang="),
        F.col("lang"),
    )
    return (
        t.documents.select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("id")).alias("q_id"),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang")).alias(
                "q_lang"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "fn_xpath",
    oracle="""
    SELECT doc_id,
           regexp_extract(xml, '<lang>([^<]*)</lang>', 1)  AS x_lang,
           regexp_extract(xml, '<src>([^<]*)</src>', 1)    AS x_src,
           CAST(regexp_extract(xml, '<n>([0-9]+)</n>', 1) AS INTEGER)
                                                           AS x_n,
           CAST(regexp_extract(xml, 'id="([0-9]+)"', 1) AS VARCHAR)
                                                           AS x_id_attr
    FROM (
        SELECT doc_id,
               '<doc id="' || CAST(doc_id AS VARCHAR) || '"><lang>' ||
               lang || '</lang><src>' || source || '</src><n>' ||
               CAST(n_chars AS VARCHAR) || '</n></doc>' AS xml
        FROM documents
    )
    ORDER BY doc_id
    """,
    tags=("string", "xml"),
)
def fn_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction over XML strings (ref `xml/xpath.scala`
    XPathString/XPathInt, registry `FunctionRegistry.scala` xpath_*):
    element text, typed int extraction, and attribute access.  XML is
    synthesized from document metadata so the query is self-contained;
    the oracle mirrors each location path with a regex.  Zero-shuffle
    JVM projection (javax.xml evaluation, no Python)."""
    t = Tables(spark, sf_dir)
    xml = F.concat(
        F.lit('<doc id="'), F.col("doc_id").cast("string"),
        F.lit('"><lang>'), F.col("lang"),
        F.lit("</lang><src>"), F.col("source"),
        F.lit("</src><n>"), F.col("n_chars").cast("string"),
        F.lit("</n></doc>"),
    )
    return (
        t.documents.select("doc_id", xml.alias("xml"))
        .select(
            "doc_id",
            F.xpath_string("xml", F.lit("/doc/lang")).alias("x_lang"),
            F.xpath_string("xml", F.lit("/doc/src")).alias("x_src"),
            F.xpath_int("xml", F.lit("/doc/n")).alias("x_n"),
            F.xpath_string("xml", F.lit("/doc/@id")).alias("x_id_attr"),
        )
        .orderBy("doc_id")
    )


@register(
    "fn_string_distance",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, p_type)            AS lev_brand_type,
           levenshtein(lower(p_name), p_name)      AS lev_case_only,
           CASE WHEN levenshtein(p_brand, 'Brand#11') <= 2
                THEN 1 ELSE 0 END                  AS near_brand11
    FROM part WHERE p_partkey < 200 ORDER BY p_partkey
    """,
    tags=("function", "string"),
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance functions (reference `stringExpressions.scala`
    Levenshtein): raw distance between two columns, a case-only
    distance (counts exactly the uppercased positions), and a
    thresholded fuzzy match — the building block of fuzzy joins /
    entity resolution.  Spark's 3-arg levenshtein(l, r, threshold)
    early-exits the DP at the band boundary — the cheap form for a
    100 TB fuzzy-match scan — and returns -1 beyond it, hence the
    CASE normalization to a 0/1 flag that DuckDB's unbounded
    levenshtein reproduces.

    Scale: pure scan-side projection (codegen, no shuffle); the fence
    (p_partkey < 200) only bounds oracle output, not the technique."""
    t = Tables(spark, sf_dir)
    thresh = F.levenshtein("p_brand", F.lit("Brand#11"), 2)
    return (
        t.part.filter(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            F.levenshtein("p_brand", "p_type").alias("lev_brand_type"),
            F.levenshtein(F.lower("p_name"), F.col("p_name")).alias(
                "lev_case_only"
            ),
            F.when(thresh >= 0, 1).otherwise(0).alias("near_brand11"),
        )
        .orderBy("p_partkey")
    )


#: AES-128 key for the crypto roundtrip (16 ASCII bytes, shared with
#: the docstring only — the oracle never needs it: it checks the
#: decrypt∘encrypt identity plus the block-cipher length law).
AES_KEY = "0123456789abcdef"


@register(
    "fn_aes_roundtrip",
    oracle="""
    SELECT c_custkey,
           c_name AS decrypted,
           CAST(16 * (length(c_name) // 16 + 1) AS INTEGER) AS cipher_len
    FROM customer WHERE c_custkey < 300 ORDER BY c_custkey
    """,
    tags=("function", "crypto"),
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aes_encrypt / aes_decrypt roundtrip (reference `misc.scala`
    AesEncrypt/AesDecrypt): customer names encrypted with AES-128-ECB
    (deterministic — no IV — so the ciphertext itself is stable) and
    decrypted back.  DuckDB has no AES, so the oracle checks the two
    laws that pin the implementation: decrypt(encrypt(x, k), k) = x,
    and ECB ciphertext length = 16·(⌊len/16⌋+1) (PKCS#7 always pads).
    ECB is used HERE because determinism is the point of the check;
    real column-level encryption at rest uses GCM (Spark's default
    mode) with a random IV.

    Scale: scan-side JVM crypto, no shuffle; the fence bounds oracle
    output only."""
    t = Tables(spark, sf_dir)
    key = F.lit(AES_KEY)
    mode = F.lit("ECB")
    pad = F.lit("PKCS")
    cipher = F.aes_encrypt(F.col("c_name").cast("binary"), key, mode, pad)
    return (
        t.customer.filter(F.col("c_custkey") < 300)
        .select(
            "c_custkey",
            F.aes_decrypt(cipher, key, mode, pad).cast("string").alias(
                "decrypted"
            ),
            F.length(cipher).alias("cipher_len"),
        )
        .orderBy("c_custkey")
    )
