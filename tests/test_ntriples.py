"""N-Triples source + global blank-component closure: the format-level
round trip (statements → .nt text → re-import → same statements)."""

import re

import pytest
from pyspark.sql import functions as F

from kg_helpers import PREFIXES, prefix_table, stmt_keys
from ldtab_clj_spark.operators.components import assign_components
from ldtab_clj_spark.operators.export import write_ntriples
from ldtab_clj_spark.plans.executed import executed
from ldtab_clj_spark.plans.pipeline import build_statements
from ldtab_clj_spark.sources.ntriples import import_ntriples, parse_nt_line
from ldtab_clj_spark.synth import entity_dictionary, synth_docs



@pytest.fixture(scope="module")
def prefix_df(spark):
    return prefix_table(spark)


def test_parse_nt_line_variants():
    iri = parse_nt_line(
        "<http://example.com/a> <http://example.com/p> "
        "<http://example.com/b> .", PREFIXES)
    assert iri == ("ex:a", "ex:p", "ex:b", "_IRI", False, False)
    lang = parse_nt_line(
        '<http://example.com/a> '
        '<http://www.w3.org/2000/01/rdf-schema#label> "café"@en .',
        PREFIXES)
    assert lang == ("ex:a", "rdfs:label", "café", "@en", False, False)
    typed = parse_nt_line(
        '_:b1 <http://example.com/n> '
        '"5"^^<http://www.w3.org/2001/XMLSchema#int> .', PREFIXES)
    assert typed == ("_:b1", "ex:n", "5", "xsd:int", True, False)
    esc = parse_nt_line(
        '<http://x.org/a> <http://x.org/p> "l1\\nl2\\t\\"q\\"" .',
        PREFIXES)
    assert esc[2] == 'l1\nl2\t"q"'
    assert esc[0] == "<http://x.org/a>"  # unmatched base → wrapped
    assert parse_nt_line("# comment", PREFIXES) is None
    assert parse_nt_line("", PREFIXES) is None
    assert parse_nt_line("garbage line", PREFIXES) is None


@pytest.mark.parametrize("prefixes", [PREFIXES, PREFIXES[:1]],
                         ids=["with_xsd", "without_xsd"])
def test_plain_literal_datatype_follows_the_prefix_table(prefixes):
    """A plain literal's ``xsd:string`` is curified against the prefix
    table, as the Turtle reader does, so parse → ``nt_object`` → parse
    gives back the same statement under any prefix table."""
    from ldtab_clj_spark.operators.export import nt_node, nt_object
    from ldtab_clj_spark.sources.turtle import _to_thin, parse_turtle
    line = '<http://example.com/a> <http://example.com/p> "x" .'
    row = parse_nt_line(line, prefixes)
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    assert row[3] == ("xsd:string" if prefixes is PREFIXES
                      else f"<{xsd_string}>")
    assert _to_thin(parse_turtle(line), prefixes) == [row]
    pmap = dict(prefixes)
    written = (f"{nt_node(row[0], False, pmap)} "
               f"{nt_node(row[1], False, pmap)} "
               f"{nt_object(row[2], row[3], False, pmap)} .")
    assert written == ('<http://example.com/a> <http://example.com/p> '
                       f'"x"^^<{xsd_string}> .')
    assert parse_nt_line(written, prefixes) == row


def test_blank_components_closure(spark):
    # chain _:a → _:b → _:c, reached from a ground subject too, plus a
    # separate _:x; ground triple apart. Every triple's key is the
    # component of its first blank end.
    rows = [
        ("_:a", "ex:p", "_:b", "_JSONMAP", True, True, "", 0),
        ("_:b", "ex:p", "_:c", "_JSONMAP", True, True, "", 0),
        ("ex:t", "ex:q", "_:c", "_JSONMAP", False, True, "", 0),
        ("_:x", "ex:p", "ex:o", "_IRI", True, False, "", 0),
        ("ex:s", "ex:p", "ex:o", "_IRI", False, False, "", 0),
    ]
    from ldtab_clj_spark.schemas import THIN
    thin = spark.createDataFrame(rows, THIN)
    keys = {(r.subject, r.object): r.doc_id
            for r in assign_components(thin).collect()}
    assert keys[("_:a", "_:b")] == keys[("_:b", "_:c")] \
        == keys[("ex:t", "_:c")] == "_:a"
    assert keys[("_:x", "ex:o")] == "_:x"
    assert keys[("ex:s", "ex:o")].startswith("g:")
    assert len(keys) == len(rows)


def test_import_layers_plan_shape(spark, tmp_path, prefix_df):
    """Each import layer takes its plan decisions from jobs it runs
    anyway, and resolves its key with one join: building link runs
    only the checkpoint of its scored dictionary (the tail size is
    observed on it), the closure reads the root-graph decision off its
    own checkpoint, and the executed stanza-key plan joins the
    component map once."""
    from ldtab_clj_spark.operators.extract import extract_thin_triples
    from ldtab_clj_spark.operators.link import link_entities
    from ldtab_clj_spark.sources.ntriples import read_ntriples
    docs = synth_docs(spark, 200, seed=5).localCheckpoint()
    thin = extract_thin_triples(docs)
    n = len(executed(spark, lambda: link_entities(
        thin, entity_dictionary(spark))).jobs)
    assert n <= 2, n
    nt_dir = str(tmp_path / "nt")
    write_ntriples(build_statements(docs, entity_dictionary(spark)),
                   prefix_df, nt_dir)
    nt_thin = read_ntriples(spark, nt_dir, prefix_df).localCheckpoint()
    grouped = executed(spark, lambda: assign_components(nt_thin))
    assert len(grouped.jobs) <= 3, grouped.jobs
    final = "\n".join(n.desc for n in
                      executed(spark, grouped.result.collect).nodes())
    joins = re.findall(r"(?:BroadcastHash|SortMerge|ShuffledHash)Join "
                       r"\[(\w+)#\d+\], \[\w+#\d+\], LeftOuter", final)
    assert joins == ["_key"], final
    assert len(re.findall(r"Scan ExistingRDD\[a#\d+,component#",
                          final)) == 1, final


def _hash_exchanges(spark, action) -> list[tuple[str, ...]]:
    """Key columns of each hash exchange in the final plan of the last
    SQL execution ``action`` runs (a write included)."""
    plan = executed(spark, action).plans[-1]
    return [tuple(re.findall(r"(\w+)#\d+", m.group(1)))
            for m in (re.match(r"Exchange hashpartitioning\((.*?), \d+\)",
                               n.desc) for n in plan.walk()) if m]


def test_statement_layout_plan_shape(spark, tmp_path, prefix_df):
    """The subject layout is decided once, in dedup_statements: the
    import write plans one ``subject`` exchange and none on the dedup
    keys, an export over the read-back table plans one hash exchange,
    and the N-Triples import reaches its write with one ``subject``
    exchange."""
    from ldtab_clj_spark.operators.export import _by_subject
    from ldtab_clj_spark.operators.materialize import (dedup_statements,
                                                       write_statements)
    docs = synth_docs(spark, 200, seed=5)
    table, nt_dir = str(tmp_path / "t"), str(tmp_path / "nt")
    built = _hash_exchanges(spark, lambda: write_statements(
        build_statements(docs, entity_dictionary(spark)), table))
    assert built.count(("subject",)) == 1, built
    assert not [k for k in built if "predicate" in k], built
    stored = dedup_statements(spark.read.parquet(table))
    exported = _hash_exchanges(spark, _by_subject(stored).collect)
    assert len(exported) == 1, exported
    write_ntriples(stored, prefix_df, nt_dir)
    imported = _hash_exchanges(spark, lambda: write_statements(
        import_ntriples(spark, nt_dir, prefix_df), str(tmp_path / "t2")))
    assert imported.count(("subject",)) == 1, imported


def test_nt_format_roundtrip(spark, tmp_path, prefix_df):
    docs = synth_docs(spark, 60, seed=13)
    statements = build_statements(docs, entity_dictionary(spark)) \
        .localCheckpoint()
    nt_dir = str(tmp_path / "out_nt")
    write_ntriples(statements, prefix_df, nt_dir)
    again = import_ntriples(spark, nt_dir, prefix_df)

    orig, back = stmt_keys(statements), stmt_keys(again)
    tp = len(orig & back)
    p, r = tp / len(back), tp / len(orig)
    assert p >= 0.95 and r >= 0.95, (p, r, len(orig), len(back),
                                     list(orig - back)[:3],
                                     list(back - orig)[:3])


def test_import_blank_annotated_property(spark, tmp_path, prefix_df):
    """A nested owl:Axiom whose owl:annotatedProperty is a blank node
    folds to a predicate-map property, which matches no annotation leaf
    of the inner axiom: the import keeps the inner axiom's row instead
    of failing the stanza task."""
    def node(x):
        if x.startswith(("_:", '"')):
            return x
        prefix, local = x.split(":")
        return f"<{dict(PREFIXES)[prefix]}{local}>"

    lines = [" ".join(map(node, spo)) + " ." for spo in [
        ("_:A1", "owl:annotatedSource", "ex:s"),
        ("_:A1", "owl:annotatedProperty", "ex:p"),
        ("_:A1", "owl:annotatedTarget", "ex:o"),
        ("_:A1", "rdf:type", "owl:Axiom"),
        ("_:A1", "ex:evidence", "ex:ev1"),
        ("_:A2", "owl:annotatedSource", "_:A1"),
        ("_:A2", "owl:annotatedProperty", "_:P"),
        ("_:A2", "owl:annotatedTarget", "ex:ev1"),
        ("_:A2", "rdf:type", "owl:Axiom"),
        ("_:A2", "ex:confidence", '"high"'),
    ]]
    nt = tmp_path / "blank_property.nt"
    nt.write_text("\n".join(lines) + "\n")
    assert stmt_keys(import_ntriples(spark, str(nt), prefix_df)) == {
        ("ex:s", "ex:p", "ex:o", "_IRI",
         '{"ex:evidence":[{"datatype":"_IRI","meta":"owl:Axiom",'
         '"object":"ex:ev1"}]}')}


def test_parse_unicode_escapes():
    t = parse_nt_line(
        '<http://example.com/a> <http://example.com/p> '
        '"caf\\u00E9 \\U0001F600" .', PREFIXES)
    assert t[2] == "café 😀"


def test_literal_that_looks_like_blank_label(spark):
    """Regression: a literal "_:b1" must not hijack the real blank
    node _:b1's component."""
    from ldtab_clj_spark.schemas import THIN
    rows = [
        ("_:b1", "ex:p", "ex:o", "_IRI", True, False, "", 0),
        ("ex:s", "ex:note", "_:b1", "xsd:string", False, False, "", 0),
    ]
    thin = spark.createDataFrame(rows, THIN)
    grouped = {r.subject: r.doc_id
               for r in assign_components(thin).collect()}
    assert grouped["_:b1"] == "_:b1"
    assert grouped["ex:s"].startswith("g:")  # ground singleton


def test_nt_iri_uchar_escapes():
    """N-Triples IRIREF UCHAR escapes (\\uXXXX / \\UXXXXXXXX) unescape
    in every IRI position — subject, predicate, object, datatype —
    matching the Turtle reader and canonical NT tooling output."""
    from ldtab_clj_spark.sources.ntriples import parse_nt_line
    prefixes = [("ex", "http://example.com/")]
    t = parse_nt_line(
        '<http://example.com/\\u0073> <http://example.com/\\U00000070> '
        '"v"^^<http://example.com/\\u0064> .', prefixes)
    assert t[:4] == ("ex:s", "ex:p", "v", "ex:d")
    t2 = parse_nt_line(
        '<http://example.com/a> <http://example.com/p> '
        '<http://example.com/caf\\u00e9> .', prefixes)
    assert t2[2] == "ex:café"


def test_nt_malformed_uchar_skips_line():
    """Out-of-range or surrogate UCHAR codepoints make the LINE
    unparseable (skipped), never a task-killing exception or a lone
    surrogate that explodes later at the Arrow/parquet boundary."""
    from ldtab_clj_spark.sources.ntriples import parse_nt_line
    prefixes = [("ex", "http://example.com/")]
    good = '<http://example.com/s> <http://example.com/p> "ok" .'
    for bad in [
        '<http://example.com/\\U00110000> <http://example.com/p> "v" .',
        '<http://example.com/s> <http://example.com/p> "\\uD800" .',
    ]:
        assert parse_nt_line(bad, prefixes) is None
    assert parse_nt_line(good, prefixes) is not None


def test_nt_skipped_line_counter(spark, tmp_path, prefix_df):
    """r4 ADVICE: the stricter escape validation silently VANISHED
    escape-invalid literals from imports. The optional accumulator
    makes every dropped non-blank/non-comment line countable (exact
    after an action), while blank lines and comments stay free."""
    from ldtab_clj_spark.sources.ntriples import read_ntriples

    nt = tmp_path / "mixed.nt"
    nt.write_text(
        "# comment line\n"
        "\n"
        '<http://example.com/a> <http://example.com/p> "ok" .\n'
        '<http://example.com/a> <http://example.com/p> "bad\\z" .\n'
        "not a triple at all\n"
        '<http://example.com/b> <http://example.com/p> "\\uD800" .\n')
    acc = spark.sparkContext.accumulator(0)
    parsed = read_ntriples(spark, str(nt), prefix_df, skipped_acc=acc)
    assert parsed.count() == 1      # the action makes the count exact
    assert acc.value == 3           # bad ECHAR + garbage + surrogate


def test_import_ntriples_skipped_counter_exact(spark, tmp_path, prefix_df):
    """The full import parses its input once, so the malformed-line
    accumulator counts each bad line once, not once per re-read."""
    nt = tmp_path / "mixed.nt"
    nt.write_text(
        '_:b1 <http://example.com/p> "ok" .\n'
        '_:b1 <http://example.com/q> _:b2 .\n'
        '<http://example.com/a> <http://example.com/p> "ok" .\n'
        '<http://example.com/a> <http://example.com/p> "bad\\z" .\n'
        "not a triple at all\n"
        '<http://example.com/b> <http://example.com/p> "\\uD800" .\n')
    acc = spark.sparkContext.accumulator(0)
    rows = import_ntriples(spark, str(nt), prefix_df,
                           skipped_acc=acc).collect()
    assert rows
    assert acc.value == 3           # bad ECHAR + garbage + surrogate


def _reference_components(edges):
    """Plain-Python reference: breadth-first search over the undirected
    edge list → {node: minimum label of its component}."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [n for x in frontier for n in adj[x]
                        if n not in seen and not seen.add(n)]
        label = min(seen)
        out.update(dict.fromkeys(seen, label))
    return out


def _kernel_components(spark, edges, n_parts):
    from ldtab_clj_spark.operators.components import min_label_components
    df = spark.createDataFrame(edges, "a string, b string") \
        .repartition(n_parts)
    return {r.a: r.component
            for r in min_label_components(df).collect()}


def test_min_label_components_random_unicode(spark):
    """Seeded random graph over string labels (ASCII, Latin-1, BMP
    above the surrogates and astral — UTF-16 order would disagree
    with code-point order for the last two) spread round-robin over 4
    partitions: equals the reference, labels are code-point minima."""
    import random
    rng = random.Random(7)
    alphabet = ["a", "Z", "é", "ß", "Ａ", "中", "\U0001F600",
                "\U00010348"]
    nodes = sorted({"".join(rng.choice(alphabet)
                            for _ in range(rng.randint(1, 3)))
                    for _ in range(300)})
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(200)]
    edges += [(n, n) for n in nodes[::7]]         # some singletons
    got = _kernel_components(spark, edges, 4)
    assert got == _reference_components(edges)


def test_min_label_components_chain_across_partitions(spark, monkeypatch):
    """A 3,000-node chain whose edges are shuffled over 8 partitions:
    no partition holds a whole component, so the root-graph merge
    runs, and the whole chain still gets its minimum label."""
    import random

    from ldtab_clj_spark.operators import components
    calls = []
    real = components.propagate_min_labels
    monkeypatch.setattr(components, "propagate_min_labels",
                        lambda e: calls.append(1) or real(e))
    nodes = [f"n{i:04d}" for i in range(3000)]
    edges = list(zip(nodes, nodes[1:]))
    random.Random(3).shuffle(edges)
    got = _kernel_components(spark, edges, 8)
    assert calls == [1]
    assert got == dict.fromkeys(nodes, "n0000")


def test_min_label_components_cycle_self_loop_and_direction(spark):
    """A cycle, a self-loop and a 2-node pair; one-direction and
    both-direction edge input give the same labels."""
    one = [("c3", "c1"), ("c1", "c2"), ("c2", "c3"),   # cycle
           ("s", "s"),                                  # self-loop
           ("y", "x")]
    both = one + [(b, a) for a, b in one]
    want = {"c1": "c1", "c2": "c1", "c3": "c1", "s": "s",
            "x": "x", "y": "x"}
    assert _reference_components(one) == want
    for edges in (one, both):
        for n_parts in (1, 3):
            assert _kernel_components(spark, edges, n_parts) == want
