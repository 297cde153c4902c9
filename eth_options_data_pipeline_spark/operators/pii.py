"""PII redaction for training corpora: detect-and-mask emails, phone
numbers, IP addresses, and card-shaped digit runs with typed
placeholder tokens.

The standard pre-training scrub (the public C4 / RefinedWeb / Dolma
pipelines all ship a regex-tier PII pass; Dolma's default masks email
/ phone / IP exactly like this). A regex tier is deliberately the
shape here: it is pure whole-stage-codegen `regexp_replace` — a
map-side projection with zero shuffle at any scale — and the
conventional first stage before any model-based NER tier (which would
ride mapInPandas like multimodal.py's decode stage).

Order matters: emails are masked before phones so a digit-bearing
local part ("call555@x.com") can't be half-eaten by the phone rule;
IPs before cards so dotted octets never look like digit runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Patterns are Java-regex (Spark-side). Kept alignable with RE2/PCRE so
# an oracle engine can replay them.
EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# 7+ digit runs allowing separators — catches phone + card shapes after
# emails/IPs are already masked
PHONEISH = r"(?<![\w.])\+?\d[\d\s().-]{5,}\d(?![\w.])"

TOKENS = {"email": "<|EMAIL|>", "ip": "<|IP|>", "phone": "<|PHONE|>"}


def redact_text(text: Column) -> Column:
    """Masked text: email -> ip -> phone-ish, in that order."""
    out = F.regexp_replace(text, EMAIL, TOKENS["email"])
    out = F.regexp_replace(out, IPV4, TOKENS["ip"])
    return F.regexp_replace(out, PHONEISH, TOKENS["phone"])


def redact_pii(docs: DataFrame) -> DataFrame:
    """Adds ``text_redacted`` plus per-kind match counts (the
    counts feed corpus-level PII prevalence stats without a second
    scan). Pure codegen; no shuffle."""
    t = F.col("text")
    counts = {
        "n_emails": F.size(F.regexp_extract_all(t, F.lit(EMAIL), F.lit(0))),
        "n_ips": F.size(F.regexp_extract_all(
            F.regexp_replace(t, EMAIL, TOKENS["email"]), F.lit(IPV4), F.lit(0))),
        "n_phones": F.size(F.regexp_extract_all(
            F.regexp_replace(F.regexp_replace(t, EMAIL, TOKENS["email"]),
                             IPV4, TOKENS["ip"]),
            F.lit(PHONEISH), F.lit(0))),
    }
    out = docs.withColumn("text_redacted", redact_text(t))
    for name, expr in counts.items():
        out = out.withColumn(name, expr)
    return out
