"""Fit-artifact persistence — save/load for the small driver-side
models the operators fit: IVF centroids, LSH hyperplanes, BPE merge
rules, LR quality-classifier weights, PCA components. A real pipeline
fits ONCE and applies for weeks across many Spark sessions; before
this module every fitted artifact was a Python list that died with
the process (VERDICT r5 #3).

Storage is one JSON file per model in a directory (the catalog.py
pattern — GraphSchema persists the same way): these artifacts are
kilobytes (k x dim centroid floats, dim+1 integer weights, <= a few
thousand merge rules), so a driver-side JSON beside the catalog is
the right tool — no Spark job, no object store dependency, trivially
diffable and portable. Writes are atomic (temp file + ``os.replace``)
so a concurrent reader never sees a torn model.

Round-trip fidelity: Python's json emits floats via ``repr`` (exact
shortest round-trip representation), so floats reload BIT-IDENTICAL
and a fitted-then-loaded apply equals fit-and-apply exactly — the
round-trip tests pin this for every artifact kind.

``GraphSession(models_path=...)`` exposes a store as
``session.model_store``; ``CALL corpus.{quality_lr,pca}`` accept a
model name to load-or-train-and-save through it, and ``CALL
db.models`` lists what is stored.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Any, Optional

from .errors import CatalogError

VERSION = 1

# Known artifact kinds -> payload shape (documented contract; load()
# validates the kind so a name collision fails loudly instead of
# feeding centroids to a classifier).
KINDS = {
    "ivf_centroids": "list[list[float]] centroids",
    "lsh_planes": "list[list[float]] hyperplanes",
    "bpe_merges": "list[[a, b]] ordered merge rules",
    "lr_weights": "list[int] dim+1 integer micro-unit weights",
    "pca": "{mean: list[float], components: list[list[float]], "
           "explained_variance: list[float]}",
    "pq_codebooks": "list[m] of list[n_codes] of list[sub_dim] "
                    "sub-centroids (ops/similarity.pq_fit)",
    "ann_index": "{centroids, codebooks} for a persisted IVF-PQ "
                 "index (ops/similarity.build_ann_index); params "
                 "carry codes_path/source_path/sizing",
    "lang_lr": "{lang: list[int] dim+1 integer micro-unit weights} "
               "one-vs-rest language-ID model "
               "(ops/classifier.train_lang_classifier)",
    "dedup_index": "{perms: list[[a, b]]} MinHash permutation params "
                   "for a persisted dedup index "
                   "(ops/dedup_index.build_dedup_index); params carry "
                   "sigs_path/buckets_path/shingle+band sizing",
}


class ModelStore:
    """Directory of named fitted artifacts, one JSON file each."""

    def __init__(self, path: str):
        self.path = path

    def _file(self, name: str) -> str:
        if not name or "/" in name or os.sep in name or name.startswith("."):
            raise ValueError(f"invalid model name {name!r}")
        return os.path.join(self.path, f"{name}.json")

    def save(self, name: str, kind: str, payload: Any,
             params: Optional[dict] = None) -> None:
        if kind not in KINDS:
            raise ValueError(
                f"unknown model kind {kind!r}; expected one of "
                f"{sorted(KINDS)}")
        os.makedirs(self.path, exist_ok=True)
        doc = {"name": name, "kind": kind, "version": VERSION,
               "params": params or {}, "payload": payload}
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, self._file(name))
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def load(self, name: str, kind: Optional[str] = None) -> dict:
        """The full model document; ``kind`` (when given) must match
        what was saved."""
        path = self._file(name)
        if not os.path.exists(path):
            raise CatalogError(
                f"no saved model '{name}' in {self.path}")
        with open(path) as f:
            doc = json.load(f)
        if kind is not None and doc.get("kind") != kind:
            raise CatalogError(
                f"model '{name}' is a {doc.get('kind')!r}, "
                f"expected {kind!r}")
        return doc

    def exists(self, name: str) -> bool:
        return os.path.exists(self._file(name))

    def delete(self, name: str) -> None:
        os.unlink(self._file(name))

    def list_models(self) -> list[dict]:
        """[{name, kind, params}] for every stored model."""
        if not os.path.isdir(self.path):
            return []
        out = []
        for fn in sorted(os.listdir(self.path)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(self.path, fn)) as f:
                doc = json.load(f)
            out.append({"name": doc["name"], "kind": doc["kind"],
                        "params": doc.get("params", {})})
        return out

    # -- typed helpers (payload <-> operator argument shapes) ----------

    def save_lr_weights(self, name: str, weights_micro: list[int],
                        **params) -> None:
        self.save(name, "lr_weights", weights_micro, params)

    def save_lang_lr(self, name: str,
                     models: "dict[str, list[int]]", **params) -> None:
        self.save(name, "lang_lr", models, params)

    def save_pca(self, name: str, mean: list[float],
                 components: list[list[float]],
                 explained_variance: list[float], **params) -> None:
        self.save(name, "pca", {
            "mean": mean, "components": components,
            "explained_variance": explained_variance}, params)
