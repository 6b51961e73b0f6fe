package graft

import java.nio.file.{Files, Paths}
import graft.queries.Media

/** Pins the exact bytes of every PDF fixture the m-family gates read:
  * the SHA-256 of each file, as written by the gate itself (the seven
  * text gates write their scratch dir when their query is built) or by
  * the fixture writer the other gates call. A refactor of the encoders
  * that moves one byte fails here, not as a confusing parser diff. The
  * spec uses only surfaces that predate the shared classic-xref
  * assembler, so the same file checks the tree before and after it. */
class PdfFixtureDigestSpec extends SparkSpec {

  private def digests(dir: String): Map[String, String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".pdf")).map { f =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(f.toPath)).map(b => f"$b%02x").mkString
        f.getName -> sha
      }.toMap

  private def freshDir(name: String): String = {
    val d = Paths.get(graft.util.Scratch.dir("digest_spec"), name).toString
    graft.util.Scratch.deleteRecursively(new java.io.File(d))
    d
  }

  private val textGates = Seq(
    "m05_pdf_lines" -> "pdf",
    "m20_pdf_tj" -> "pdf_tj",
    "m22_pdf_cid" -> "pdf_cid",
    "m23_pdf_differences" -> "pdf_diff",
    "m25_pdf_form_xobject" -> "pdf_form",
    "m26_pdf_encrypted" -> "pdf_enc",
    "m27_pdf_mixed_cmap" -> "pdf_mixed")

  // taken from the tree before the shared classic-xref assembler
  private val want = Map[String, String](
    "cid_2023.pdf" -> "ee62b65daab39eaafeff3bef8a9bb0d931045ce1f082400a24e040a9dae31983",
    "cid_2024.pdf" -> "3d710c5dbc652a2ffd166d5bc70a819350a28db692131d1416de73765d9e5fe2",
    "enc_aes256_2026.pdf" -> "b75a98fb7d128a5545ff8089436fea29eab49b12eabc07104fdc0bffc3a75042",
    "enc_aes_2025.pdf" -> "b905fdf03d9da04407a519295d55582925f653f6e465c07ac4fd7a622915b128",
    "enc_rc4_128_2024.pdf" -> "8c5e263a8bf0b512bfd6f184006772ee589cc5df65ff5497534a14ef8dbcf885",
    "enc_rc4_40_2023.pdf" -> "73af9e04c926f34025e06ca119ad5f4e5c446c52e65a0d871d0f6a5609bb8e8f",
    "filing_2023.pdf" -> "82bc99c1ff3a39c4dd42f887b9b2ab128342e7ef22eaf6e0a170d83c7086c518",
    "filing_2024.pdf" -> "346e8df3b268a04df90354030660ca536a8a19c9136dee70f997439ec926a679",
    "font_prog.pdf" -> "1ca19e643651d1c5d2bf38ed788c0b6a90cc994f46c3c7f2e41f208daed80e22",
    "form_2015.pdf" -> "3a9db26c2df6cc9ba0ab0a7c4a66a6d2a0182fbafe75205947915e71786fbc24",
    "form_2016.pdf" -> "40420e826b40842f6c8393b0aa4f540bbad85b5bd7d46dec4bbf70cd4d2057b9",
    "legacy_2013.pdf" -> "a56dc099bab137863fbdb146f4768c83fd8bb8b73de52ede2ae79758d844811e",
    "legacy_2014.pdf" -> "6c655258def7674754c2865da1988051f3cd5036ab1abcea8d8ce86d6b5675da",
    "mixed_2023.pdf" -> "5a1f47d803660d635c92d0e654e42db834e88a97debf70e300dff41af3df004a",
    "mixed_2024.pdf" -> "43dc2d8ef6776ecb909170b93835a32d5f7215f5c70303e89aff219dbcb737ef",
    "modern_2023.pdf" -> "b8d95fa200865968e6f1ecc52ffe8a103795ab5af8436b8ec5ca8770634c0b89",
    "modern_2024.pdf" -> "bef9ce3661eaa980ea67cc9a94b2565bd7f4f2ddefd53f3719294956462f8b76",
    "pwd_aes256_2026.pdf" -> "a82edc634c02f9f9729e1e9c651ff8dfe2745fc0a672eaa17965c158670c792a",
    "pwd_rc4_128_2024.pdf" -> "0634e1a7f54f94f56b81c441d619fc8fa315aeb908e5c89daff2112201bb9099",
    "ruled_tables.pdf" -> "ad9d65d70a5a259700c9fbf30f5258cbcdd38d07d1716dd05a2a2125d45db7fe",
    "tbl_2023.pdf" -> "e1000adf74931b880da23a4afa7e90dd40813170a40f74a0e3ed1a4775b64bc1",
    "tbl_2024.pdf" -> "0d20550168f35ec392e1e5d6c1b73f9ceb59344b3bb4b2995871916c06c3a432",
    "tbl_rot_2025.pdf" -> "5396e849a05ce41e302c78d56b5f4f74543ddb270756c0c55834b5dee5dcd698")

  test("every PDF fixture the m-family gates read is byte-identical to its pinned digest") {
    val got = textGates.flatMap { case (query, dir) =>
      Media.queries(query)(spark, "")
      digests(graft.util.Scratch.dir(dir))
    }.toMap ++
      digests(Media.writePdfPosFixture(freshDir("pos"))) ++
      digests(Media.writePdfPwdFixture(freshDir("pwd"))) ++
      digests(Media.writePdfLatticeFixture(freshDir("lattice"))) ++
      digests(Media.writePdfFontProgFixture(freshDir("fontprog")))
    val diff = (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.get(k) != want.get(k))
      .map(k => s"""    "$k" -> "${got.getOrElse(k, "<missing>")}",""")
    assert(diff.isEmpty, diff.mkString("digest mismatch (actual):\n", "\n", ""))
  }
}
