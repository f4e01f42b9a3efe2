"""Connected components: the 4-neighbor derivation in ``connected_components``
(q27/q35/q48) and the generic edge-list path fed by ``cell_neighbors`` (the
edge set q48 measures) must both give the exact min-cell labels."""

from osm_processing_pipeline_spark.operators import clusters


def test_connected_components_explicit_labels(spark):
    # two L-shaped blobs + isolated cells, spanning a world-border corner
    ids = [0, 1, 128, 256,          # blob A (component 0)
           5, 6, 134,               # blob B (component 5)
           300,                     # isolated
           127, 255]                # right-border pair (vertical adjacency)
    want = {0: 0, 1: 0, 128: 0, 256: 0,
            5: 5, 6: 5, 134: 5,
            300: 300,
            # 127 (i=127,j=0) and 255 (i=127,j=1) are vertical neighbors;
            # 127 and 128 are NOT neighbors (row wrap must not connect)
            127: 127, 255: 127}
    cells = spark.createDataFrame([(i,) for i in ids], "grid_id long")
    derived = {r.grid_id: r.component
               for r in clusters.connected_components(cells).collect()}
    assert derived == want
    edges = clusters.cell_neighbors(cells)
    given = {r.grid_id: r.component
             for r in clusters.connected_components_edges(cells, edges)
             .collect()}
    assert given == want
