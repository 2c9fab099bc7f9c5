"""Model-based mutation testing (hypothesis): random PUT/UPDATE/DELETE/
deleteFrom sequences against a managed table must agree with a plain
Python dict model of the reference's mutation semantics
(ColumnTableBulkOps put, AnalyzeMutableOperations update/delete — the
same contracts tests/test_mutate.py checks pointwise, here explored over
generated sequences; the reference's analogue is its concurrency/
consistency suites, SURVEY.md §5).

The table stays tiny (≤8 keys) — the property under test is semantic
equivalence through the file-pruned copy-on-write path, not scale.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

# r13: excluded from the default (driver) test lane — see pytest.ini
pytestmark = pytest.mark.slow

keys = st.integers(min_value=0, max_value=7)
vals = st.integers(min_value=-50, max_value=50)


def row_strategy():
    return st.tuples(keys, vals, st.sampled_from(["a", "b", "c"]))


put_op = st.tuples(st.just("put"), st.lists(row_strategy(), min_size=1, max_size=4))
# UPDATE ... SET v = v + <c> WHERE v < <t>
update_op = st.tuples(st.just("update"), st.tuples(vals, vals))
# DELETE FROM ... WHERE v > <t>
delete_op = st.tuples(st.just("delete"), vals)
# deleteFrom by key list
delete_from_op = st.tuples(st.just("delete_from"), st.lists(keys, min_size=1, max_size=3))
# key-fixed predicates (k = c, k IN (...)), keys 8-11 never in the table:
# on the bucketed layout these take the planner's bucket set
# (_planned_bucket_files), including radii that match no row
key_list = st.lists(st.integers(min_value=0, max_value=11), min_size=1, max_size=3)
# UPDATE ... SET v = v + <c> WHERE <key predicate>
update_keys_op = st.tuples(st.just("update_keys"), st.tuples(key_list, vals))
# DELETE FROM ... WHERE <key predicate>
delete_keys_op = st.tuples(st.just("delete_keys"), key_list)
# the edges of the planned path as an UPDATE or a DELETE, keyed by `how`:
# the first two fall back to the _affected_files scan
#   or_pred   k IN (...) OR v > t   (no bucket set)
#   subquery  k IN (SELECT k ...)   (two scans)
#   alias     x.k IN (...) on a target aliased as x
# (inside a transaction: test_key_fixed_mutations_in_transaction)
fallback_op = st.tuples(
    st.just("fallback"),
    st.tuples(
        st.sampled_from(["or_pred", "subquery", "alias"]),
        st.sampled_from(["update", "delete"]),
        key_list,
        vals,
    ),
)

ops = st.lists(
    st.one_of(
        put_op, update_op, delete_op, delete_from_op,
        update_keys_op, delete_keys_op, fallback_op,
    ),
    min_size=1,
    max_size=5,
)


def _key_pred(ks, qual=""):
    if len(ks) == 1:
        return f"{qual}k = {ks[0]}"
    return f"{qual}k IN ({', '.join(map(str, ks))})"


LAYOUTS = pytest.mark.parametrize(
    "layout",
    [
        {"key_columns": "k"},
        # bucketed layout: mutations route through the bucket-function
        # fast path (_bucket_affected_files) and key-fixed predicates
        # through the planner's bucket set — same semantics required
        {"key_columns": "k", "partition_by": "k", "buckets": "4"},
    ],
    ids=["unbucketed", "bucketed"],
)


@LAYOUTS
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    initial=st.lists(row_strategy(), min_size=1, max_size=6, unique_by=lambda r: r[0]),
    sequence=ops,
)
def test_mutation_sequence_matches_model(snappy, layout, initial, sequence):
    spark = snappy.spark
    name = "hm_t"
    if snappy.catalog.exists(name):
        snappy.drop_table(name)
    snappy.create_table(
        name,
        options=dict(layout),
        df=spark.createDataFrame(initial, "k int, v int, s string"),
    )
    model = {k: (k, v, s) for k, v, s in initial}

    for op, arg in sequence:
        if op == "put":
            # PUT INTO: source wins on key match; duplicate keys inside the
            # source pass through put itself, so conflate to last-wins
            # before applying (the sink's conflation contract)
            conflated = {r[0]: r for r in arg}
            snappy.put(
                name, spark.createDataFrame(list(conflated.values()), "k int, v int, s string")
            )
            model.update(conflated)
        elif op == "update":
            c, t = arg
            snappy.update(name, f"v < {t}", {"v": f"v + {c}"})
            model = {
                k: (k, v + c if v < t else v, s) for k, (k, v, s) in model.items()
            }
        elif op == "delete":
            snappy.delete(name, f"v > {arg}")
            model = {k: r for k, r in model.items() if not (r[1] > arg)}
        elif op == "delete_from":
            ks = sorted(set(arg))
            snappy.delete_from(
                name, spark.createDataFrame([(k,) for k in ks], "k int")
            )
            model = {k: r for k, r in model.items() if k not in ks}
        elif op == "update_keys":
            ks, c = arg
            snappy.update(name, _key_pred(ks), {"v": f"v + {c}"})
            model = {
                k: (k, v + c if k in ks else v, s) for k, (k, v, s) in model.items()
            }
        elif op == "delete_keys":
            snappy.delete(name, _key_pred(arg))
            model = {k: r for k, r in model.items() if k not in arg}
        elif op == "fallback":
            how, stmt, ks, t = arg
            alias, hit = None, set(ks)
            if how == "or_pred":
                pred = f"{_key_pred(ks)} OR v > {t}"
                hit |= {k for k, r in model.items() if r[1] > t}
            elif how == "subquery":
                spark.createDataFrame([(k,) for k in ks], "k int").createOrReplaceTempView(
                    "hm_keys"
                )
                pred = "k IN (SELECT k FROM hm_keys)"
            else:
                alias, pred = "x", _key_pred(ks, "x.")
            if stmt == "update":
                snappy.update(name, pred, {"s": "'u'"}, alias=alias)
                model = {
                    k: (k, v, "u" if k in hit else s) for k, (k, v, s) in model.items()
                }
            else:
                snappy.delete(name, pred, alias=alias)
                model = {k: r for k, r in model.items() if k not in hit}

    got = {r.k: (r.k, r.v, r.s) for r in snappy.table(name).collect()}
    assert got == model
    snappy.drop_table(name)


@LAYOUTS
def test_key_fixed_mutations_in_transaction(snappy, layout):
    """Key-fixed UPDATE and DELETE staged in one transaction (row tables
    only): at commit the first statement may take the planner's bucket
    set, and the second reads the transaction's staged generation, which
    falls back to the _affected_files scan."""
    spark = snappy.spark
    rows = [(k, k * 10, "a") for k in range(8)]
    snappy.create_table(
        "hm_tx",
        provider="row",
        options=dict(layout),
        df=spark.createDataFrame(rows, "k int, v int, s string"),
    )
    model = {r[0]: r for r in rows}
    snappy.begin_transaction()
    snappy.update("hm_tx", "k IN (1, 2, 9)", {"s": "'u'"})
    snappy.delete("hm_tx", "k IN (2, 3, 10) AND v > 20")
    snappy.commit()
    model.update({k: (k, k * 10, "u") for k in (1, 2)})
    del model[3]
    got = {r.k: (r.k, r.v, r.s) for r in snappy.table("hm_tx").collect()}
    assert got == model
