"""Arbitrary-depth dynamic payload flatten — the schema-less path for
onboarding a publisher nobody wrote a struct for.

Reproduces the reference's ``recursively_deserialize``
(helpers.py:112-127) + ``create_record_recursive``
(timeseries.py:43-98) pair as ONE depth-unrolled JVM expression tree:

- objects recurse; every non-object value is a leaf record whose
  ``measurement_of`` is the LEAF key — in ``flatten_payload_dynamic``
  optionally prefixed with a constant ``prefix + '_'`` exactly like
  the reference's ``measurement_of_prefix`` (the reference does NOT
  accumulate the path; sibling subtrees sharing a leaf key collide
  there too).
- ``ignore_keys`` prune whole subtrees (reference: ignored keys are
  "also not recursed").
- a leaf STRING that itself parses as JSON behaves as its parsed
  value (``recursively_deserialize``): object-bearing strings keep
  recursing because ``get_json_object`` hands back the decoded inner
  text and ``json_object_keys`` then sees an object; scalar strings
  like ``"1.5"``/``"true"`` fall through to type inference, which tags
  them number/boolean just as ``json.loads`` would re-type them.
  The object-probe parse is gated on the text starting with ``{``
  (modulo leading whitespace) — JSON object text cannot start any
  other way, so scalar/array leaves skip the Jackson invocation
  entirely instead of paying for a parse that is defined to fail.
- arrays are leaves (``create_record_recursive`` never iterates
  lists); a 2-numeric array is tagged GEOGRAPHY by ``infer_type_tag``
  (timeseries.py:120-124), any other array STRING (the reference
  raises TypeError — here unknown shapes ride the reject channel
  instead of killing the job, same divergence policy as T13). Array
  leaf TEXT is ``get_json_object``'s re-rendering of the subtree
  (Jackson number style, ``2.4E-7``), numerically equal to but not
  byte-identical with the input text — found by the property tier.
- JSON ``null`` leaves extract as SQL NULL and are dropped (the
  reference would raise on ``get_record_type(None)``).

Recursion is unrolled to ``max_depth`` object levels (default 6 — the
deepest reference payload, BMW, is 3). Deeper objects are dropped,
not mis-emitted; raise ``max_depth`` to onboard deeper publishers.
Empty-string keys are legal and survive (the root sentinel is NULL).

Scale shape: everything is one codegen'd expression per row — no
shuffle, no Python, no driver involvement; the leaf fan-out happens
in a single ``explode`` (Generate), so the frontier expression is
evaluated once per input row.

Each frontier node is parsed exactly ONCE: ``from_json`` to
``map<string,string>`` yields every child's raw text in one pass
(nested objects keep their JSON text as the map value — verified,
incl. the shared Jackson float re-rendering with ``get_json_object``).
An earlier per-child ``get_json_object``-path walk parsed a K-child
node K+1 times and could not address keys containing a single quote;
this one has no key-character restrictions and benches neutral at
sf0.1 (the fan-out, not the parse, dominates there).

``leaves_col`` is the tree; envelopes reach it through the router's
``dynamic_fallback`` branch, which ``dynamic_to_records`` runs over
one publisher's messages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.typeinfer import infer_type_tag
from eventhub_to_timescale_spark.ingest.envelope import publisher_is

_MAP = "map<string,string>"


def _node(k: Column, v: Column) -> Column:
    """Frontier node ``struct<k, js, m>`` — the single-element
    ``transform`` binds the one ``from_json`` per node to a lambda
    variable, so the object-probe (``m IS NULL``) and the child
    enumeration (``map_entries(m)``) read the SAME parsed map
    (``JsonToStructs`` is CodegenFallback: without the binding each
    field access would re-parse; same no-CSE hazard materialize()
    exists for, solved with a lambda binding since we're inside an
    array)."""
    probe = F.when(F.ltrim(v).startswith("{"), F.from_json(v, _MAP))
    return F.element_at(
        F.transform(
            F.array(probe),
            lambda m: F.struct(k.alias("k"), v.alias("js"), m.alias("m")),
        ),
        1,
    )


_NODE_ARRAY = "array<struct<k:string,js:string,m:map<string,string>>>"


def leaves_col(
    payload: Column,
    max_depth: int = 6,
    ignore_keys: tuple[str, ...] = (),
) -> Column:
    """payload JSON text → ``array<struct<k, js>>`` of leaf (key,
    raw-text value) pairs via the unrolled frontier. Compose with
    ``explode`` for row fan-out.

    Leaves are PRUNED from the frontier the depth they appear
    (VERDICT r4 #8): each round carries ``struct(leaves, frontier)``
    where only still-object nodes stay in the frontier — a scalar
    resolved at depth 1 is appended to ``leaves`` once and never
    re-walked by the remaining depth rounds (the old shape re-wrapped
    and re-flattened every settled leaf at every depth, so shallow
    payloads paid the full ``max_depth`` tax). Rounds deeper than the
    actual nesting iterate an empty frontier for free. The state is
    threaded through the same single-element ``transform`` binding as
    ``_node`` so referencing it twice (leaf split + child expansion)
    cannot re-evaluate the previous round."""
    # NULL sentinel for the root key (not "" — an empty string is a
    # legal JSON key whose leaf must survive, map keys are never null)
    state = F.struct(
        F.array().cast(_NODE_ARRAY).alias("leaves"),
        F.array(_node(F.lit(None).cast("string"), payload)).alias("frontier"),
    )

    def _children(n):
        entries = F.map_entries(n["m"])
        if ignore_keys:
            entries = F.filter(entries, lambda e: ~e["key"].isin(*ignore_keys))
        return F.transform(entries, lambda e: _node(e["key"], e["value"]))

    def _step(s):
        return F.struct(
            F.concat(
                s["leaves"],
                F.filter(s["frontier"], lambda n: n["m"].isNull()),
            ).alias("leaves"),
            F.flatten(
                F.transform(
                    F.filter(s["frontier"], lambda n: n["m"].isNotNull()),
                    _children,
                )
            ).alias("frontier"),
        )

    def _step_if_active(s):
        # If evaluates only the taken branch: rounds deeper than the
        # payload's actual nesting cost one size() probe per row, not
        # four array ops over empty frontiers
        return F.when(F.size(s["frontier"]) == 0, s).otherwise(_step(s))

    for _ in range(max_depth):
        state = F.element_at(
            F.transform(F.array(state), _step_if_active), 1
        )
    # objects still unexpanded after max_depth rounds are dropped, not
    # mis-emitted; depth-max scalars in the final frontier are leaves
    leaves = F.concat(
        state["leaves"],
        F.filter(state["frontier"], lambda n: n["m"].isNull()),
    )
    leaves = F.filter(leaves, lambda x: x["k"].isNotNull())
    return F.transform(
        leaves, lambda x: F.struct(x["k"].alias("k"), x["js"].alias("js"))
    )


def flatten_payload_dynamic(
    df: DataFrame,
    payload_col: str = "payload",
    max_depth: int = 6,
    ignore_keys: tuple[str, ...] = (),
    prefix: str | None = None,
) -> DataFrame:
    """Fan each row out to one row per JSON leaf of ``payload_col``:
    adds ``measurement_of`` / ``measurement_value`` /
    ``measurement_data_type``, drops the payload column. All other
    columns are carried through the explode unchanged."""
    leaf = F.explode(
        leaves_col(F.col(payload_col), max_depth, tuple(ignore_keys))
    ).alias("_leaf")
    carried = [c for c in df.columns if c != payload_col]
    out = df.select(*carried, leaf)
    m_of = (
        F.concat(F.lit(prefix + "_"), F.col("_leaf.k"))
        if prefix
        else F.col("_leaf.k")
    )
    return (
        out.select(
            *carried,
            m_of.alias("measurement_of"),
            F.col("_leaf.js").alias("measurement_value"),
            infer_type_tag(F.col("_leaf.js")).alias("measurement_data_type"),
        )
        .filter(F.col("measurement_value").isNotNull())
    )


def dynamic_to_records(
    envelope_df: DataFrame,
    publisher: str,
    ignore_keys: tuple[str, ...] = (),
    max_depth: int = 6,
) -> DataFrame:
    """Envelope → atomic records for an undeclared publisher: the
    router's ``dynamic_fallback`` branch over ``publisher``'s messages.
    Subject = last topic segment, record timestamp = envelope timestamp
    (none → no records). A declared publisher keeps its own rules."""
    from eventhub_to_timescale_spark.ingest.router import route_to_records

    return route_to_records(
        publisher_is(envelope_df, publisher),
        dynamic_fallback=True,
        dynamic_max_depth=max_depth,
        dynamic_ignore_keys=ignore_keys,
    )


__all__ = ["leaves_col", "flatten_payload_dynamic", "dynamic_to_records"]
