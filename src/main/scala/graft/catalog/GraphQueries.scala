package graft.catalog

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import Fragments._

/** Graph analytics over the near-duplicate candidate graph. */
object GraphQueries {

  /** Synchronous LPA unrolled: each round re-votes every node's label
    * as the (count DESC, label ASC) winner among in-neighbors, absent
    * voters falling back to the previous label — the exact replay of
    * [[graft.operators.Graph.labelPropagation]]'s struct-max. */
  private def labelPropSql(iterations: Int): String = {
    val setup =
      s"""WITH $minhashCandCtesSql,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |          UNION SELECT doc_b, doc_a FROM cands),
         |it0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS label FROM edges)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
         |it$i AS (SELECT p.id, COALESCE(v.label, p.label) AS label
         |  FROM it${i - 1} p LEFT JOIN (
         |    SELECT id, label FROM (
         |      SELECT c.id, c.label,
         |        ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY c.cnt DESC, c.label ASC) AS rk
         |      FROM (SELECT e.dst AS id, q.label, count(*) AS cnt
         |            FROM edges e JOIN it${i - 1} q ON q.id = e.src
         |            GROUP BY 1, 2) c) ranked WHERE rk = 1) v ON v.id = p.id)""".stripMargin
    }.mkString
    setup + iters +
      s"\nSELECT id AS doc_id, CAST(label AS BIGINT) AS community FROM it$iterations"
  }

  /** Unrolled synchronous k-core peeling over the shared near-dup
    * candidate edges ([[graft.operators.Graph.kCore]] twin): each
    * round keeps vertices with remaining degree >= k, then restricts
    * the edge set to kept endpoints. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val setup =
      s"""WITH $minhashCandCtesSql,
         |e0 AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |       UNION SELECT doc_b, doc_a FROM cands)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s""",
         |k$i AS (SELECT src AS id FROM e${i - 1} GROUP BY 1 HAVING count(*) >= $k),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON a.id = e.src JOIN k$i b ON b.id = e.dst)""".stripMargin
    }.mkString
    setup + iters +
      s"\nSELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree FROM e$rounds GROUP BY 1"
  }

  /** BFS hop distances unrolled round by round (the [[kCoreSql]]
    * convention): frontier i+1 = neighbors of frontier i minus
    * everything already labeled — each vertex labeled exactly once at
    * its minimum distance, so the unroll is the algorithm. */
  private def khopSql(rounds: Int): String = {
    val setup =
      s"""WITH $minhashCandCtesSql,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |      UNION SELECT doc_b, doc_a FROM cands),
         |n0 AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 100 = 0),
         |d0 AS (SELECT id, CAST(0 AS BIGINT) AS hops FROM n0)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s""",
         |f$i AS (SELECT DISTINCT e.dst AS id FROM e JOIN n${i - 1} s ON s.id = e.src),
         |n$i AS (SELECT f$i.id FROM f$i
         |  WHERE NOT EXISTS (SELECT 1 FROM d${i - 1} x WHERE x.id = f$i.id)),
         |d$i AS (SELECT id, hops FROM d${i - 1}
         |  UNION ALL SELECT id, CAST($i AS BIGINT) FROM n$i)""".stripMargin
    }.mkString
    setup + iters + s"\nSELECT id AS doc_id, hops FROM d$rounds"
  }

  /** Fixed-point PageRank oracle: the candidate chain, symmetrized
    * edges, then `iterations` UNROLLED integer-arithmetic rounds (all
    * floor division, mirrors [[graft.operators.Graph.pageRank]]). */
  private def pagerankSql(iterations: Int): String = {
    val setup =
      s"""WITH $minhashCandCtesSql,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |          UNION SELECT doc_b, doc_a FROM cands),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |base AS (SELECT CAST(1000000 // count(*) AS BIGINT) AS r0,
         |                CAST(150000 // count(*) AS BIGINT) AS b FROM nodes),
         |it0 AS (SELECT id, (SELECT r0 FROM base) AS r FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
         |it$i AS (SELECT n.id,
         |    (SELECT b FROM base)
         |      + CAST((85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(p.r // d.deg) AS BIGINT) AS cs
         |    FROM edges e JOIN it${i - 1} p ON p.id = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY 1) s USING (id))""".stripMargin
    }.mkString
    setup + iters +
      s"\nSELECT id AS doc_id, CAST(r AS BIGINT) AS rank_micro FROM it$iterations"
  }

  val specs: Seq[QuerySpec] = Seq(
    // per-vertex triangle counts over the span-share candidate graph
    // (clique-like boilerplate families vs star-shaped template hubs)
    // triangle set is orientation-independent: the oracle enumerates
    // by id order (a<b<c), the engine by degree order — same triangles,
    // same per-vertex counts
    QuerySpec("triangle_count", (s, d) =>
      graft.operators.Graph.triangleCounts(
          TextFunctions.spanShareEdges(Tables.documents(s, d)), "a", "b")
        .select(col("id").as("doc_id"), col("n_triangles")),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sp0 AS (SELECT DISTINCT doc_id, array_to_string(toks[u.i : u.i+7], ' ') AS sp
         |        FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
         |sp AS (SELECT doc_id,
         |    CAST(concat('0x', substring(md5(sp), 1, 15)) AS BIGINT) AS sp_h
         |  FROM sp0),
         |sel AS (SELECT sp_h FROM sp GROUP BY 1
         |        HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20),
         |e AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |      FROM sp a JOIN sp b USING (sp_h) JOIN sel USING (sp_h)
         |      WHERE a.doc_id < b.doc_id),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM e e1 JOIN e e2 ON e2.a = e1.b
         |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |v AS (SELECT x AS id FROM tri
         |      UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |SELECT id AS doc_id, count(*) AS n_triangles FROM v GROUP BY 1""".stripMargin),
    // fixed-point PageRank over the MinHash near-dup graph: integer
    // micro-unit ranks, floor division each step — engine-exact after
    // any number of iterations (a floating-point PageRank never
    // survives a cross-engine hash compare)
    QuerySpec("pagerank_neardup", (s, d) =>
      graft.operators.Graph.pageRank(
          graft.operators.Graph.symmetrize(
            Dedup.minhashNearDups(Tables.documents(s, d))
              .select("doc_a", "doc_b"),
            "doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("rank_micro")),
      pagerankSql(5)),
    // synchronous label propagation over the same near-dup graph:
    // 2-core of the near-dup graph: clique-like boilerplate families
    // survive, star-hub false positives peel (leaves first, then the
    // hub); 4 synchronous peeling rounds, oracle-unrolled
    QuerySpec("graph_kcore", (s, d) =>
      graft.operators.Graph.kCore(
          Dedup.minhashNearDups(Tables.documents(s, d))
            .select("doc_a", "doc_b"),
          "doc_a", "doc_b", k = 2)
        .select(col("id").as("doc_id"), col("core_degree")),
      kCoreSql(2, 4)),
    // contamination blast radius: hop distance from a flagged seed
    // set over the near-dup graph (multi-source BFS, 3 rounds —
    // each vertex labeled once at its true minimum distance)
    QuerySpec("graph_khop", (s, d) =>
      graft.operators.Graph.bfsHops(
          Dedup.minhashNearDups(Tables.documents(s, d))
            .select("doc_a", "doc_b"),
          "doc_a", "doc_b",
          Tables.documents(s, d).filter(col("doc_id") % 100 === 0)
            .select("doc_id"),
          maxHops = 3)
        .select(col("id").as("doc_id"), col("hops")),
      khopSql(3)),
    // communities, not components — a hub bridging two boilerplate
    // families stays a bridge; 4 deterministic min-tie rounds
    QuerySpec("label_prop", (s, d) =>
      graft.operators.Graph.labelPropagation(
          graft.operators.Graph.symmetrize(
            Dedup.minhashNearDups(Tables.documents(s, d))
              .select("doc_a", "doc_b"),
            "doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("label").as("community")),
      labelPropSql(4)),
  )
}
