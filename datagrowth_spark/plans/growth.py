"""Growth (enrichment) operator (SURVEY §2.4 P6-P8).

One growth run enriches every pending document of a collection against
an external resource and folds the results back in — the reference's
batch fan-out/fan-in (Celery chords, row locks) becomes one Spark
pipeline over immutable snapshots:

    pending = filter(task_results)           # E8 predicate, Catalyst
    requests = mapInPandas(template)         # per-row request building
    responses = fetch(requests, cache)       # the cached scan (R1)
    contributions = mapInPandas(extract)     # objective over bodies
    new_df = collection ⟕ contributions      # one keyed join + column edits

No locking, no work-claim tables: replays are free because fetches are
memoized and the merge is a deterministic transform to a NEW snapshot.

Config (JSON-serializable, mirroring growth_processor defaults in the
reference's datagrowth.yml):

* ``growth_phase`` — name under which results land in
  ``derivatives[phase]`` and ``task_results[phase]``
* ``depends_on`` — phase that must have succeeded first
* ``retrieve_data.request_template`` — either a callable(content) ->
  request row (runs in a Python stage), or a declarative spec
  ``{"uri_template": "http://h/x/{}", "args": ["$.path", ...],
  "method": "GET"}`` mirroring the reference's ``$``-path arg
  templating (resources/growth.py:49-69). The declarative form
  compiles to pure Column expressions — url, and the sha256 request
  signature, are computed inside whole-stage codegen; no Python stage.
* ``contribute_data.objective`` — extraction objective for bodies. A
  *flat* objective (no ``@`` node selector, no ``#`` context keys, no
  callables — just ``key: "$.path"``) compiles to JVM variant
  expressions (``try_parse_json`` + ``try_variant_get``), again no
  Python stage; anything richer falls back to ExtractProcessor in
  ``mapInPandas``.
* ``to_property`` — route the contribution into ``properties[key]``
  instead of derivatives (reference "field/prop" spec)
* ``reduce`` — "first" (default), or a callable folding a contribution
  list into one dict (the reference's ``reduce_contributions`` hook)
* ``extractor`` — pluggable extractor spec; supports
  ``ExtractProcessor.pass_resource_through`` (whole parsed body) and
  registry-resolvable custom specs (reference config key)
* ``apply_resource_to`` — document columns that take the resource's
  status string at fan-in (the reference's ``document.apply_resource``
  hook shape)

With a declarative template AND a flat objective, the only Python in
the whole growth pipeline is the fetch worker for cache *misses* — the
part that is genuinely network-bound at scale.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagrowth_spark.datatypes.collection import Collection
from datagrowth_spark.datatypes.document import document_content, task_result_success
from datagrowth_spark.functions.maps import map_set
from datagrowth_spark.operators.extraction import DGNoContent, ExtractProcessor
from datagrowth_spark.sources.cache import REQUEST_SCHEMA, ResourceCache, fetch

_REQ_WITH_ID = T.StructType(
    [T.StructField("identity", T.StringType())] + list(REQUEST_SCHEMA.fields)
)

_CONTRIB_SCHEMA = T.StructType([
    T.StructField("identity", T.StringType()),
    T.StructField("success", T.BooleanType()),
    T.StructField("contribution", T.StringType()),          # plain JSON object
    T.StructField("contribution_encoded", T.StringType()),  # values JSON-encoded (properties convention)
    T.StructField("status", T.IntegerType()),
])


class GrowthProcessor:
    def __init__(self, config: dict, transport=None) -> None:
        self.phase = config["growth_phase"]
        self.depends_on = config.get("depends_on")
        self.request_template: Callable[[dict], dict] = config["retrieve_data"]["request_template"]
        self.objective: dict = config.get("contribute_data", {}).get("objective", {})
        self.to_property: str | None = config.get("to_property")
        #: "first" (default), or a callable(list[dict]) -> dict — the
        #: reference's overridable ``reduce_contributions`` hook
        #: (resources/growth.py:31-32, :135): when one document's
        #: resources extract several contributions, fold them into one.
        self.reduce = config.get("reduce", "first")
        #: "ExtractProcessor.extract_from_resource" (default) or
        #: "ExtractProcessor.pass_resource_through" — the pluggable
        #: extractor spec (reference resources/growth.py:93,
        #: config key ``extractor``). pass_resource_through hands the
        #: PARSED body straight to the contribution fold.
        self.extractor: str = config.get(
            "extractor", "ExtractProcessor.extract_from_resource")
        #: Document columns that take the resource's status (as string)
        #: at fan-in — the Spark form of ``document.apply_resource``
        #: (reference resources/growth.py:117-120 and the growth test's
        #: app hook setting ``reference = str(resource.status)``,
        #: tests/.../growth/http.py:189-212). Columns must exist in the
        #: document schema.
        self.apply_resource_to: list[str] = list(
            config.get("apply_resource_to", []))
        self.transport = transport

    # -- E8: the pending predicate ---------------------------------------
    def filter_documents(self, df: DataFrame) -> DataFrame:
        phase_success = task_result_success("task_results", self.phase)
        pred = phase_success.isNull() | (phase_success == F.lit(False))
        if self.depends_on:
            pred = pred & (task_result_success("task_results", self.depends_on) == F.lit(True))
        return df.where(pred)

    # -- declarative (JVM) request building -------------------------------
    def _build_requests_jvm(self, pending: DataFrame) -> DataFrame | None:
        """Compile a dict request template to Column expressions.

        Returns None when the template is a callable (Python path).
        Signature parity: reproduces ``http_signature`` exactly —
        sha256 over the canonical JSON ``{"data":null,"uri":"<METHOD>
        <protocol-stripped url>"}`` — so JVM-built and Python-built
        requests share cache rows. Query strings in the template must
        already be in sorted-param form (they are static template text,
        so this is a spec-authoring rule, not a runtime cost).
        """
        spec = self.request_template
        if not isinstance(spec, dict):
            return None
        from datagrowth_spark.datatypes.document import encode_value_col, prop_col

        method = spec.get("method", "GET").upper()
        template: str = spec["uri_template"]
        args = [prop_col("properties", p) for p in spec.get("args", [])]
        stripped = template.split("://", 1)[1] if "://" in template else template
        fmt = lambda t: F.format_string(t.replace("%", "%%").replace("{}", "%s"), *args)  # noqa: E731
        url = fmt(template)
        canonical = F.concat(
            F.lit('{"data":null,"uri":'),
            encode_value_col(F.concat(F.lit(f"{method} "), fmt(stripped))),
            F.lit("}"),
        )
        return pending.select(
            "identity",
            F.sha2(canonical, 256).alias("signature"),
            F.lit(method).alias("method"),
            url.alias("url"),
            F.lit(None).cast("string").alias("headers"),
            F.lit(None).cast("string").alias("data"),
        )

    # -- distributed request building ------------------------------------
    def _build_requests(self, pending: DataFrame) -> DataFrame:
        jvm = self._build_requests_jvm(pending)
        if jvm is not None:
            return jvm
        template = self.request_template

        def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
            import pandas as pd

            for batch in batches:
                rows = []
                for rec in batch.to_dict("records"):
                    content = document_content(rec)
                    req = template(content)
                    if req is None:
                        continue
                    rows.append({"identity": rec["identity"], **req})
                yield pd.DataFrame(rows, columns=[f.name for f in _REQ_WITH_ID.fields])

        return pending.select("identity", "properties", "derivatives").mapInPandas(
            run, schema=_REQ_WITH_ID
        )

    # -- flat-objective (JVM) contribution extraction ---------------------
    def _flat_objective(self) -> dict[str, str] | None:
        """The objective as key->``$.path`` when it is JVM-compilable."""
        obj = self.objective
        if not obj or self.reduce != "first" or \
                self.extractor != "ExtractProcessor.extract_from_resource":
            return None
        # A root "@" selector ("$") is flat-compatible: the JVM path
        # already extracts each key against the whole body, which IS
        # the root object (ADVICE r7 — reference-valid objectives carry
        # "@" since load_objective asserts it, and rejecting it here
        # silently demoted every such objective to Python mapInPandas).
        obj = dict(obj)
        root = obj.pop("@", None)
        if root is not None and root != "$":
            return None
        if not obj or any(
                k.startswith(("@", "#")) or not isinstance(p, str) or not p.startswith("$.")
                for k, p in obj.items()):
            return None
        return obj

    def _extract_contributions_jvm(self, joined: DataFrame) -> DataFrame | None:
        flat = self._flat_objective()
        if flat is None:
            return None
        body = F.col("body")
        ok = (
            F.col("status").isNotNull()
            & (F.col("status") >= 200) & (F.col("status") < 300)
            & body.isNotNull() & (body != "")
        )
        parsed = F.try_parse_json(body)
        success = ok & parsed.isNotNull()
        # try_variant_get keeps the raw JSON type; to_json re-serializes
        # the fragment — the Column twin of json.dumps(value) per key.
        # Caveat: variant canonicalizes number TEXT ("0.0" -> "0"), so
        # fragments are value-equal but not always byte-equal with the
        # Python path; decoded contents compare equal numerically.
        opts = {"ignoreNullFields": "false"}
        frags = {k: F.to_json(F.try_variant_get(parsed, path, "variant"), opts)
                 for k, path in flat.items()}
        contribution = F.to_json(
            F.struct(*[F.try_variant_get(parsed, path, "variant").alias(k) for k, path in flat.items()]),
            opts,
        )
        encoded = F.to_json(F.struct(*[frag.alias(k) for k, frag in frags.items()]), opts)
        return joined.select(
            "identity",
            success.alias("success"),
            F.when(success, contribution).alias("contribution"),
            F.when(success, encoded).alias("contribution_encoded"),
            F.col("status").cast("int").alias("status"),
        )

    # -- contribution extraction -----------------------------------------
    def _extract_contributions(self, joined: DataFrame) -> DataFrame:
        jvm = self._extract_contributions_jvm(joined)
        if jvm is not None:
            return jvm
        objective = self.objective
        reduce_mode = self.reduce
        extractor_spec = self.extractor
        allow_simple = bool(self.to_property)

        def fold(extracted: Any) -> list:
            """Normalize one resource's extraction into a contribution
            list (reference resources/growth.py:69-86
            extract_contributions): generator drains, list passes, None
            empties, dict wraps, simple values wrap as {"value": x}
            unless a to_property routes them verbatim."""
            from types import GeneratorType

            if isinstance(extracted, GeneratorType):
                extracted = list(extracted)
            if isinstance(extracted, list):
                return extracted
            if extracted is None:
                return []
            if isinstance(extracted, dict) or allow_simple:
                return [extracted]
            if isinstance(extracted, (str, int, float)):
                return [{"value": extracted}]
            raise ValueError(f"Unknown contribution type: {type(extracted)}")

        def run(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
            import pandas as pd

            from datagrowth_spark.core.registry import Registry
            from datagrowth_spark.datatypes.document import encode_properties

            processor = ExtractProcessor(objective=objective)
            if extractor_spec == "ExtractProcessor.extract_from_resource":
                extract_method = processor.extract_from_resource
            elif extractor_spec == "ExtractProcessor.pass_resource_through":
                extract_method = processor.pass_resource_through
            else:
                extract_method = Registry().resolve(extractor_spec)

            class _Resource:
                __slots__ = ("content",)

                def __init__(self, content):
                    self.content = content

            for batch in batches:
                rows = []
                for rec in batch.to_dict("records"):
                    status = rec["status"]
                    ok = status is not None and 200 <= status < 300
                    contribution = encoded = None
                    if ok and rec["body"]:
                        try:
                            # Exactly the BUILTIN pass-through spec gets
                            # a parsed body; registry extractors always
                            # receive the raw string (ADVICE r7: suffix
                            # matching gave a custom
                            # 'MyProc.pass_resource_through' a parsed
                            # body, inconsistent with every other
                            # registry extractor).
                            extracted = extract_method(
                                _Resource(("application/json",
                                           json.loads(rec["body"])
                                           if extractor_spec == "ExtractProcessor.pass_resource_through"
                                           else rec["body"])))
                            contributions = fold(extracted)
                        except DGNoContent:
                            contributions = []
                        if contributions:
                            value = (reduce_mode(contributions)
                                     if callable(reduce_mode)
                                     else contributions[0])
                            if not isinstance(value, dict):
                                # scalar contributions wrap as {"value": x}
                                # (reference growth.py:131-136)
                                value = {"value": value}
                            contribution = json.dumps(value)
                            encoded = json.dumps(encode_properties(value))
                    rows.append({
                        "identity": rec["identity"],
                        "success": bool(ok and contribution is not None),
                        "contribution": contribution,
                        "contribution_encoded": encoded,
                        "status": None if status is None else int(status),
                    })
                yield pd.DataFrame(rows, columns=[f.name for f in _CONTRIB_SCHEMA.fields])

        return joined.mapInPandas(run, schema=_CONTRIB_SCHEMA)

    # -- the full pipeline ------------------------------------------------
    def __call__(self, collection: Collection, cache: ResourceCache) -> Collection:
        df = collection.df
        pending = self.filter_documents(df)
        # Persisted: consumed by both the fetch (request rows) and the
        # signature join-back — otherwise the templating stage runs once
        # per consumer. Released below once the join-back's (identity,
        # signature) projection is snapshotted; without that, the lazy
        # collection._df lineage would pin the cached RDD for the life
        # of the session (one leak per grow cycle).
        requests = self._build_requests(pending).persist()
        try:
            fetch_kwargs = {"transport": self.transport} if self.transport else {}
            # return_responses=False: the join-back below keeps only
            # this batch's signatures, so fetch's own result lookup —
            # and the signature-frame localCheckpoint job that feeds
            # it — would repeat that work (r13: one lookup instead of
            # two; fewer driver jobs per grow cycle). The join-back
            # reads the cache through latest(signatures=), which
            # semi-joins the batch's signatures into the scan below the
            # latest-wins window, so the window covers only this
            # batch's rows, not the whole cache. Misses are appended to
            # the cache inside the call, so the pages are committed
            # before latest() is planned.
            fetch(requests.select([f.name for f in REQUEST_SCHEMA.fields]),
                  cache, return_responses=False, **fetch_kwargs)
            # Two strings per pending document — the minimal state the
            # join-back needs; eager so `requests` can be unpersisted.
            id_sig = requests.select("identity", "signature").localCheckpoint(eager=True)
        finally:
            requests.unpersist()
        joined = id_sig.join(cache.latest(signatures=id_sig), "signature", "left")
        contributions = self._extract_contributions(joined)

        phase = self.phase
        to_property = self.to_property
        c = contributions.select(
            F.col("identity").alias("__cid"),
            F.col("success").alias("__success"),
            F.col("contribution").alias("__contribution"),
            F.col("contribution_encoded").alias("__cenc"),
            F.col("status").alias("__status"),
        )
        out = df.join(c, df["identity"] == c["__cid"], "left")

        task_result = F.to_json(F.struct(
            F.coalesce(F.col("__success"), F.lit(False)).alias("success"),
            F.col("__status").alias("status"),
        ))
        new_task_results = F.when(
            F.col("__cid").isNotNull(),
            map_set("task_results", phase, task_result),
        ).otherwise(F.col("task_results"))

        if to_property:
            # Route the contribution into properties[to_property]
            # (reference to_property "field/prop" spec, growth.py:131-149).
            new_properties = F.when(
                F.col("__cid").isNotNull() & F.col("__success"),
                map_set("properties", to_property, F.col("__contribution")),
            ).otherwise(F.col("properties"))
            out = out.withColumn("properties", new_properties)
        else:
            # __cenc values are already in the properties encoding
            # (every map value is itself JSON), so parsing the outer
            # object as map<string,string> is lossless.
            contribution_map = F.from_json(F.col("__cenc"), "map<string,string>")
            new_derivatives = F.when(
                F.col("__cid").isNotNull() & F.col("__success"),
                map_set("derivatives", phase, contribution_map),
            ).otherwise(F.col("derivatives"))
            out = out.withColumn("derivatives", new_derivatives)

        out = out.withColumn("task_results", new_task_results)
        # apply_resource_to: listed document columns take the resource's
        # status string for every document that had a resource this run
        # (success or not — the reference applies the resource before
        # inspecting contributions, resources/growth.py:117-120).
        for col in self.apply_resource_to:
            if col not in df.columns:
                raise ValueError(
                    f"apply_resource_to column {col!r} is not a document "
                    f"column (have {df.columns})")
            out = out.withColumn(
                col,
                F.when(F.col("__cid").isNotNull() & F.col("__status").isNotNull(),
                       F.col("__status").cast("string")).otherwise(F.col(col)))
        collection._df = out.drop("__cid", "__success", "__contribution", "__cenc", "__status")
        return collection
