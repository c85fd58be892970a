WITH RECURSIVE reach AS (
  SELECT 'pkg-07' AS name, 0 AS depth
  UNION ALL
  SELECT e.dep AS name, r.depth + 1 AS depth
  FROM reach r JOIN v_res_edges e ON e.name = r.name
  WHERE r.depth < 6)
SELECT name, CAST(min(depth) AS INT) AS depth,
       CAST(count(*) AS BIGINT) AS n_walks
FROM reach
GROUP BY name
ORDER BY name
