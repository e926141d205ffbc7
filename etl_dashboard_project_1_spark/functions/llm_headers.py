"""H9: LLM-backed header standardizer — the alternative-path interface to
the rules engine (``headers.HeaderCanonicalizer``).

Reference parity: /root/reference/src/header_standarizer_llm.py:42-220
(``HeaderStandardizer``): a seq2seq model generates a short SNAKE_CASE
name per header, behind the SAME persistent sha256[:12]-keyed JSON catalog
the rules engine uses (load/save/collision-suffix semantics are shared —
the two standardizers are drop-in alternatives over one catalog format).

The model is INJECTED (``model_fn``): any ``str -> str`` callable works.
The default is :class:`FakeSeq2Seq`, a deterministic stand-in (the
transformers/torch stack is not in this sandbox, and the reference's own
rules-engine docstring calls the rules path "más confiable y rápida que
LLM"). The fake reproduces the reference's PROMPT CONTRACT — "4-6 words,
snake_case, no accents, uppercase" — so the post-processing, caching,
collision and fallback paths are exercised for real.

Scale shape: header standardization is metadata-sized (≤ ~100 strings per
workbook), but model inference is the expensive step at fleet scale
(thousands of workbooks), so :func:`generate_names_spark` runs the model
as an Arrow-batched pandas UDF over the DISTINCT unseen headers —
distributed batch inference — while the catalog merge (tiny, needs global
collision ordering) stays on the driver.
"""

from __future__ import annotations

import re
from pathlib import Path
from typing import Callable, Iterable

from .headers import HeaderCatalog, ascii_fold


class FakeSeq2Seq:
    """Deterministic stand-in for the reference's flan-t5 pipeline
    (header_standarizer_llm.py:100-159): emulates a model that follows the
    prompt "simplify to 4-6 Spanish words, snake_case, no accents,
    uppercase". Pure string function — same output on any machine, which
    is what makes the H9 path oracle-checkable.
    """

    def __init__(self, max_words: int = 6):
        self.max_words = max_words

    def __call__(self, header: str) -> str:
        folded = ascii_fold(header)
        words = re.findall(r"[A-Za-z0-9]+", folded)
        return "_".join(w.upper() for w in words[: self.max_words])


def build_prompt(header: str) -> str:
    """The reference's few-shot prompt, verbatim contract
    (header_standarizer_llm.py:107-121): simplify to 4-6 Spanish words,
    snake_case, no accents, uppercase — four in-context examples then the
    target header. Pure function so the prompt contract is testable
    without the model stack."""
    return (
        "Simplifica este encabezado a 4-6 palabras en español, snake_case, "
        "sin tildes y uppercase:\n"
        '        Entrada: "Marca"\n'
        '        Salida: "MARCA"\n\n'
        '        Entrada: "Emisiones de CO2 combinado (g/km)"\n'
        "        Salida: CO2_COMBINADO_GKM\n\n"
        '        Entrada: "Artículo 4° Nonies Decreto Supremo"\n'
        "        Salida: ARTICULO_4_DS\n\n"
        '        Entrada: "Ciclo WLTC Híbrido Recarga Exterior CO2 CS"\n'
        "        Salida: WLTC_HIB_RECARGAEXT_CO2_CS\n\n"
        f'        Entrada: "{header}"\n'
        "        Salida:"
    )


class Seq2SeqModel:
    """The REAL model path, import-gated: a HuggingFace seq2seq pipeline
    with the reference's exact setup — ``google/flan-t5-base``, cuda when
    available, greedy decoding with ``max_new_tokens=20``
    (header_standarizer_llm.py:49-141). A ``str -> str`` callable, so it
    drops into :class:`LLMHeaderStandardizer`/``generate_names_spark``
    exactly where :class:`FakeSeq2Seq` does; every downstream stage
    (post-processing, hashing, catalog, collision suffixes, the pandas-UDF
    batch plumbing) is identical and stays covered by the deterministic
    fake in environments without torch — like this one, where
    construction raises ``NotImplementedError``.

    On executors, instantiate lazily per worker (pass
    ``Seq2SeqModel(...)`` as ``model_fn`` only on a cluster with the model
    weights available to every node; the object pickles its config, and
    the heavy pipeline loads on first call)."""

    def __init__(self, model_name: str = "google/flan-t5-base", max_new_tokens: int = 20):
        try:
            import torch  # noqa: F401
            import transformers  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "transformers/torch not available; inject FakeSeq2Seq or any "
                "str -> str callable instead"
            ) from exc
        self.model_name = model_name
        self.max_new_tokens = max_new_tokens
        self._pipe = None

    def _load(self):  # pragma: no cover - needs model weights
        import torch
        from transformers import AutoModelForSeq2SeqLM, AutoTokenizer

        device = "cuda" if torch.cuda.is_available() else "cpu"
        tok = AutoTokenizer.from_pretrained(self.model_name)
        model = AutoModelForSeq2SeqLM.from_pretrained(self.model_name).to(device)
        self._pipe = (tok, model, device)

    def __call__(self, header: str) -> str:  # pragma: no cover - needs model weights
        import torch

        if self._pipe is None:
            self._load()
        tok, model, device = self._pipe
        inputs = tok(
            build_prompt(header), return_tensors="pt", max_length=512, truncation=True
        ).to(device)
        with torch.no_grad():
            out = model.generate(
                **inputs, max_new_tokens=self.max_new_tokens, num_beams=1, do_sample=False
            )
        return tok.decode(out[0], skip_special_tokens=True)


class LLMHeaderStandardizer(HeaderCatalog):
    """Model-backed standardizer behind the shared hash cache.

    Mirrors the reference class surface (header_standarizer_llm.py):
    ``standardize_header`` / ``batch_standardize`` / catalog persistence,
    with identical post-processing of the raw model text (strip → upper →
    last line/colon segment → sanitize to ``[A-Za-z0-9_]`` → collapse
    underscores → ``col_<hash8>`` fallback when degenerate,
    header_standarizer_llm.py:144-159) and identical collision suffixing
    (``_1, _2, …``, :186-190). The catalog is ``headers.HeaderCatalog``,
    the one ``headers.HeaderCanonicalizer`` uses (the reference's
    hash_length=12 included), so the two engines are interchangeable over
    one mapping file.
    """

    def __init__(
        self,
        model_fn: Callable[[str], str] | None = None,
        catalog_file: str | Path | None = None,
    ):
        self.model_fn = model_fn or FakeSeq2Seq()
        super().__init__(catalog_file)

    # -- generation --------------------------------------------------------

    def _postprocess(self, raw: str, original: str) -> str:
        """Reference post-processing, header_standarizer_llm.py:144-159."""
        name = raw.strip().upper()
        name = name.split("\n")[0].split(":")[-1].strip()
        name = "".join(c if c.isalnum() or c == "_" else "_" for c in name)
        name = "_".join(filter(None, name.split("_")))
        if len(name) < 3:
            name = f"col_{self.header_hash(original)[:8]}"
        return name

    def generate_name(self, original: str) -> str:
        """Model call + post-processing (no cache interaction)."""
        return self._postprocess(self.model_fn(original), original)

    # -- cache-aware standardization (reference :161-190) ------------------

    def standardize_header(self, original: str) -> str:
        return self._cached(original, self.generate_name)

    def batch_standardize(self, headers: Iterable[str]) -> dict[str, str]:
        return {h: self.standardize_header(h) for h in headers}


def generate_names_spark(spark, headers: list[str], model_fn=None):
    """Distributed batch inference: run the model over DISTINCT headers as
    an Arrow-batched pandas UDF (at fleet scale the model call dominates,
    so it runs on executors in batches — the real-LLM analog batches
    prompts per Arrow chunk exactly here). Returns {header: raw_model_text};
    catalog admission stays on the driver (collision suffixes need a
    global order).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fn = model_fn or FakeSeq2Seq()

    # no type hints: PEP 563 stringifies them module-wide here and pyspark
    # can't resolve 'pd.Series' against this function's local import
    def _infer(s):
        return s.map(lambda x: None if x is None else fn(x))

    infer = F.pandas_udf(_infer, T.StringType())

    df = spark.createDataFrame([(h,) for h in headers], ["header"]).distinct()
    rows = df.select("header", infer("header").alias("raw")).collect()
    return {r["header"]: r["raw"] for r in rows}


def batch_standardize_spark(
    spark,
    std: LLMHeaderStandardizer,
    headers: list[str],
) -> dict[str, str]:
    """Two-phase batch standardization: (1) distributed inference for the
    cache-missing headers, (2) driver-side catalog admission in a stable
    order (sorted by header) so collision suffixes are deterministic."""
    misses = [h for h in dict.fromkeys(headers) if std.lookup(h) is None]
    generated = generate_names_spark(spark, misses, std.model_fn) if misses else {}
    for h in sorted(misses):
        std._admit(h, std._postprocess(generated[h], h))
    if std.catalog_file is not None and misses:
        std.save_catalog()
    return {h: std.lookup(h) for h in dict.fromkeys(headers)}
