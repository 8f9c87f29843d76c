package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.{hits, mainSources}

/** Each persisted store owns its layout: a table path literal or a table
  * schema of a store appears only in that store's object, and the
  * `_manifest.json` name only in `ShardedStore`, whose one reader and
  * writer every store uses. Queries, streaming twins and tools read a
  * store through its reader functions. A hit elsewhere fails the suite,
  * named as file:line. */
class StoreLayoutSpec extends AnyFunSuite {
  private val owners: Seq[(String, Seq[String])] = Seq(
    "graft/ops/SignatureIndex.scala" -> Seq(
      "/(sigs|bands)\\b", "(?i)band_pt\\s+INT", "(?i)hs\\s+ARRAY<BIGINT>,\\s*doc_pt\\s+INT"),
    "graft/ops/ClusterStore.scala" -> Seq(
      "/(by_doc|by_cluster|edges|alloc|ext_retired)\\b",
      "(?i)(cluster_pt|edge_pt|alloc_pt|ext_pt)\\s+INT",
      "(?i)cluster_id\\s+BIGINT,\\s*doc_pt\\s+INT"),
    "graft/ops/IvfIndex.scala" -> Seq(
      "/(centroids|postings)\\b", "[\"/]_gen\\b",
      "(?i)centroid_id\\s+BIGINT,\\s*batch_id\\s+BIGINT"),
    "graft/ops/ShardedStore.scala" -> Seq("_manifest\\.json"))

  private def path(f: java.io.File) = f.getPath.replace('\\', '/')

  test("scanner sees every store object") {
    for ((owner, _) <- owners)
      assert(mainSources.exists(path(_).endsWith(owner)), s"$owner not found")
  }

  test("store table paths, schemas and the manifest name appear only in their store object") {
    val found = for {
      (owner, patterns) <- owners
      p <- patterns
      hit <- hits((f, code) => !path(f).endsWith(owner) && p.r.findFirstIn(code).isDefined)
    } yield s"$hit   [owned by $owner]"
    if (found.nonEmpty) fail("read a store through its object's reader functions:\n" +
      found.mkString("\n"))
  }
}
