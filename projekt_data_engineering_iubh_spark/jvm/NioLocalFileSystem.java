package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system ({@code .crc} sidecars kept),
 * setting permissions in-process. Without the native Hadoop library,
 * {@link RawLocalFileSystem#setPermission} forks {@code chmod} for every
 * file and directory it creates; {@link Raw} sets the nine rwx bits
 * through NIO instead. Sticky, setuid and setgid modes, and file stores
 * without POSIX attributes, take Hadoop's own path.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * A rename never replaces an existing file, as on HDFS. Hive's
   * {@code ProxyLocalFileSystem}, which {@code file://} resolves to
   * without this class, adds the same rule to {@link LocalFileSystem}.
   */
  @Override
  @SuppressWarnings("deprecation")  // isFile, as Hive's class calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    // owner rwx, group rwx, others rwx: the order of mode bits 8 to 0
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & 07000) == 0) {
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
          if ((mode & (0400 >> i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // no POSIX attributes on this file store: Hadoop's own path
        }
      }
      super.setPermission(p, permission);
    }
  }
}
