"""The statement plane binds, hashes and prunes only what a statement
reads: the relations Spark's parser finds in it, closed over views'
stored queries (SeafowlContext._closure)."""

import json
import os
import shutil
import urllib.error
import urllib.parse
import urllib.request
from hashlib import sha256

import pytest

from seafowl_spark.engine import parser
from seafowl_spark.engine.context import (
    _INFO_SCHEMA_NAMES,
    _SYSTEM_TABLE_NAMES,
)
from seafowl_spark.engine.deltalite import DeltaLiteTable
from seafowl_spark.engine.server import SeafowlServer
from tests.conftest import rows


def refs(ctx, sql):
    with ctx._ansi_dialect():
        return parser.relation_refs(ctx._sql_parser, sql)


def seed_views(ctx):
    ctx.execute("CREATE TABLE base (x int)")
    ctx.execute("INSERT INTO base VALUES (1), (2)")
    ctx.execute("CREATE VIEW v AS SELECT x FROM base")
    ctx.execute("CREATE VIEW vv AS SELECT x FROM v")


def _get_q(port, query, etag=None):
    headers = {"X-Seafowl-Query": urllib.parse.quote(query)}
    if etag:
        headers["If-None-Match"] = etag
    h = sha256(query.encode()).hexdigest()
    req = urllib.request.Request(f"http://127.0.0.1:{port}/q/{h}", headers=headers)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), dict(e.headers)


class TestRelationRefs:
    def test_finds_relations_anywhere_in_the_statement(self, ctx):
        got = refs(
            ctx,
            "WITH c AS (SELECT * FROM cte_body) "
            "SELECT (SELECT max(y) FROM scalar_sub) FROM c "
            "WHERE EXISTS (SELECT 1 FROM exists_sub) "
            "AND x IN (SELECT x FROM public.in_sub)",
        )
        assert got == {
            "[cte_body]", "[c]", "[scalar_sub]", "[exists_sub]",
            "[public, in_sub]",
        }
        assert refs(ctx, "EXPLAIN SELECT * FROM db.s.t") == {"[db, s, t]"}
        assert refs(ctx, "TABLE t") == {"[t]"}

    def test_quoted_names_parse_as_identifiers(self, ctx):
        assert refs(ctx, 'SELECT * FROM "Foo"') == {"[foo]"}
        # lossy rendering: callers match it, never split it
        assert refs(ctx, 'SELECT * FROM "a, b"."c]d"') == {"[a, b, c]d]"}


class TestBindOnlyTheClosure:
    def test_statement_snapshots_only_what_it_reads(self, ctx, monkeypatch):
        ctx.execute("CREATE TABLE a (x int)")
        for i in range(4):
            ctx.execute(f"CREATE TABLE other{i} (x int)")
        roots = []
        orig = DeltaLiteTable.snapshot

        def snapshot(self, *args, **kwargs):
            roots.append(self.root)
            return orig(self, *args, **kwargs)

        monkeypatch.setattr(DeltaLiteTable, "snapshot", snapshot)
        assert rows(ctx.execute("SELECT count(*) FROM a")) == [(0,)]
        a_root = ctx.delta_table("a").root
        assert set(roots) == {a_root}

    def test_unbound_tables_leave_the_temp_view_namespace(self, ctx):
        ctx.execute("CREATE TABLE a (x int)")
        ctx.execute("CREATE TABLE b (x int)")
        ctx.execute("SELECT * FROM b")
        ctx.execute("SELECT * FROM a")
        names = {t.name for t in ctx.spark.catalog.listTables()}
        assert "a" in names and "b" not in names

    def test_unreadable_table_fails_only_its_readers(self, ctx):
        ctx.execute("CREATE TABLE ok (x int)")
        ctx.execute("INSERT INTO ok VALUES (1)")
        ctx.execute("CREATE TABLE gone (x int)")
        shutil.rmtree(os.path.join(ctx.delta_table("gone").root, "_log"))
        assert rows(ctx.execute("SELECT count(*) FROM ok")) == [(1,)]
        with pytest.raises(Exception):
            ctx.execute("SELECT * FROM gone")

    def test_where_on_a_view_reads_its_rows(self, ctx):
        # a view stores no files: stats pruning must not replace its
        # expansion with an empty scan
        seed_views(ctx)
        assert rows(ctx.execute("SELECT x FROM v WHERE x > 1")) == [(2,)]
        assert rows(ctx.execute("SELECT x FROM vv WHERE x < 2")) == [(1,)]


class TestNestedQuotedField:
    def test_empty_table_with_quoted_struct_field(self, ctx):
        ctx.execute("CREATE TABLE ok (x int)")
        ctx.execute("CREATE TABLE bad (a struct<`my field`: int>)")
        assert rows(ctx.execute("SELECT * FROM bad")) == []
        assert rows(ctx.execute("SELECT count(*) FROM ok")) == [(0,)]
        ctx.execute("INSERT INTO bad SELECT named_struct('my field', 7)")
        assert rows(ctx.execute("SELECT a.`my field` FROM bad")) == [(7,)]


class TestViewEtags:
    QUERIES = ("SELECT * FROM v", "SELECT * FROM public.v", "SELECT * FROM vv")

    def test_write_to_base_changes_view_etags(self, ctx):
        seed_views(ctx)
        before = [ctx.etag_for_query(q) for q in self.QUERIES]
        assert before == [ctx.etag_for_query(q) for q in self.QUERIES]
        ctx.execute("INSERT INTO base VALUES (3)")
        after = [ctx.etag_for_query(q) for q in self.QUERIES]
        assert all(a != b for a, b in zip(before, after))

    def test_http_revalidation_after_base_write(self, ctx):
        seed_views(ctx)
        srv = SeafowlServer(ctx).start()
        try:
            for new_x, q in enumerate(self.QUERIES, start=10):
                code, _, headers = _get_q(srv.port, q)
                assert code == 200
                etag = headers["ETag"]
                assert _get_q(srv.port, q, etag=etag)[0] == 304
                ctx.execute(f"INSERT INTO base VALUES ({new_x})")
                code, body, _ = _get_q(srv.port, q, etag=etag)
                assert code == 200
                xs = [json.loads(line)["x"] for line in body.strip().split("\n")]
                assert new_x in xs
        finally:
            srv.stop()


class TestIntrospection:
    def test_name_sets_match_the_builders(self, ctx):
        assert set(_SYSTEM_TABLE_NAMES) == set(ctx._system_tables())
        assert set(_INFO_SCHEMA_NAMES) == set(ctx._information_schema())

    def test_write_changes_system_table_etag(self, ctx):
        ctx.execute("CREATE TABLE t (x int)")
        q = "SELECT * FROM system.table_versions"
        e1 = ctx.etag_for_query(q)
        assert e1 == ctx.etag_for_query(q)
        ctx.execute("INSERT INTO t VALUES (1)")
        e2 = ctx.etag_for_query(q)
        assert e2 != e1
        ctx.execute("DROP TABLE t")
        assert ctx.etag_for_query(q) != e2

    def test_create_changes_information_schema_etag(self, ctx):
        q = "SELECT table_name FROM information_schema.tables"
        e1 = ctx.etag_for_query(q)
        ctx.execute("CREATE TABLE t (x int)")
        assert ctx.etag_for_query(q) != e1
        assert rows(ctx.execute(q)) == [("t",)]

    def test_catalog_answered_statements_track_the_catalog(self, ctx):
        ctx.execute("CREATE TABLE t (x int)")
        qs = ("SHOW TABLES", "DESCRIBE HISTORY t")
        before = [ctx.etag_for_query(q) for q in qs]
        ctx.execute("INSERT INTO t VALUES (1)")
        ctx.execute("CREATE TABLE u (x int)")
        after = [ctx.etag_for_query(q) for q in qs]
        assert all(a != b for a, b in zip(before, after))
