"""Regenerate docs/API.md from module __all__ exports (one line per
public symbol, first docstring line as the summary)."""

from __future__ import annotations

import importlib
import inspect
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MODULES = [
    ("plda_spark", "Top-level: session factory, train/infer API"),
    ("plda_spark.lda.train", "LDA training"),
    ("plda_spark.lda.infer", "LDA inference (batch, model-as-DataFrame, streaming)"),
    ("plda_spark.lda.model", "Model object + serde"),
    ("plda_spark.lda.corpus", "Tokenization and corpus packing"),
    ("plda_spark.lda.vocab", "Vocabulary"),
    ("plda_spark.functions", "Column expression registry"),
    ("plda_spark.operators.dedup", "Deduplication + decontamination"),
    ("plda_spark.operators.similarity", "Embedding similarity search"),
    ("plda_spark.operators.text", "Text analysis"),
    ("plda_spark.operators.sampling", "Sampling and sequence layout"),
    ("plda_spark.operators.stats", "Distribution profiling"),
    ("plda_spark.operators.curation", "Filter-pipeline curation"),
    ("plda_spark.operators.classify", "Linear quality classifier"),
    ("plda_spark.operators.joins", "Join strategies"),
    ("plda_spark.operators.web", "URL canonicalization / crawl dedup"),
    ("plda_spark.operators.events", "Event-stream analytics"),
    ("plda_spark.operators.bpe", "BPE tokenizer training"),
    ("plda_spark.operators.unigram", "Unigram-LM tokenizer training"),
    ("plda_spark.operators.wordpiece", "WordPiece tokenizer training"),
    ("plda_spark.operators.tokenizer_io", "Tokenizer model persistence"),
    ("plda_spark.operators.graph", "Graph analytics"),
    ("plda_spark.operators.multimodal", "Multimodal binary columns"),
    ("plda_spark.streaming.windows", "Structured Streaming operators"),
    ("plda_spark.sources", "Sources and sinks"),
    ("plda_spark.sql", "SQL entry point"),
    ("plda_spark.plans.audit", "Plan-shape auditing"),
]


def main() -> None:
    out = io.StringIO()
    out.write(
        "# API reference\n\nGenerated from module `__all__` exports"
        " (`python tools/gen_api_md.py`); one line per public symbol.\n"
    )
    for name, label in MODULES:
        m = importlib.import_module(name)
        syms = getattr(m, "__all__", None)
        if not syms:
            syms = [
                n
                for n, o in vars(m).items()
                if not n.startswith("_")
                and callable(o)
                and getattr(o, "__module__", "") == name
            ]
        out.write(f"\n## `{name}` — {label}\n\n")
        for s in syms:
            o = getattr(m, s, None)
            if o is None:
                continue
            if inspect.isclass(o):
                kind = "class"
            elif callable(o):
                kind = "fn"
            elif inspect.ismodule(o):
                kind = "module"
            else:
                kind = "const"
            doc = ""
            if kind in ("class", "fn", "module"):
                doc = (inspect.getdoc(o) or "").strip().split("\n")[0]
            out.write(f"- **`{s}`** ({kind}) — {doc}\n" if doc else f"- **`{s}`** ({kind})\n")
    with open(os.path.join(ROOT, "docs", "API.md"), "w") as f:
        f.write(out.getvalue())
    print(f"wrote docs/API.md ({len(out.getvalue())} bytes)")


if __name__ == "__main__":
    main()
