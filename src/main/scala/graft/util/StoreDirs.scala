package graft.util

/** Store-directory resolution shared by every persisted store family
  * (BM25 inverted index, SimHash/SRP signature stores, the ANN store
  * family, serving layouts, bucket/partition layout demos).
  *
  * The family tag (e.g. `sq8-store-v3`) rides the path under BOTH
  * roots — the default `target/` root AND a `GRAFT_INDEX_DIR` override.
  * Before this seam, the env override collapsed every family to the
  * identical `$GRAFT_INDEX_DIR/<sf>` directory, and families whose
  * artifact names collide (Sq8Store and IvfSq8Store both write
  * `codes.parquet`, `params.txt`, `_gen.txt`, `_tombstones` and the
  * stamp) would clobber each other's metadata under it. One directory
  * per store family regardless of the root source.
  *
  * The version suffix in the tag is the layout-migration mechanism:
  * bumping it orphans stores whose on-disk layout predates the current
  * contract (the staleness stamp would otherwise happily reuse them),
  * and [[graft.search.StoreAdmin.gcOrphans]] reclaims the superseded
  * roots.
  */
object StoreDirs {

  /** Root directory for one store family. */
  def root(family: String): String =
    sys.env.get("GRAFT_INDEX_DIR") match {
      case Some(r) => s"$r/$family"
      case None => s"${sys.props("user.dir")}/target/$family"
    }

  /** Canonical store directory for a family × source-corpus pair. */
  def resolve(family: String, sfDir: String): String =
    root(family) + "/" + sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
}
